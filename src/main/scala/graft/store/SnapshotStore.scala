package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-style snapshot/partition bookkeeping over plain parquet
  * directories (SURVEY.md §7.0: no Iceberg runtime jar ships with
  * /opt/spark/jars, so the two behaviors the north_rule needs are
  * emulated and the verbs mirror Iceberg's so a real binding is a
  * drop-in):
  *
  *  - snapshot commit: an atomically-renamed manifest JSON listing the
  *    table's live partitions with per-partition lineage + metrics;
  *  - resume: a restarted job skips partitions already in the latest
  *    committed manifest;
  *  - retention expiry: partition drops recorded as a new snapshot.
  *
  * Retention tombstones: [[expire]] records the names it drops in the new
  * snapshot's `expired` set, and every later snapshot carries the set
  * forward, so the store remembers what retention removed without
  * relisting anything. A resumed build (`TierBuilder.buildHourly` with
  * `resume = true`) treats a tombstoned partition as done: a source that
  * still holds an expired day does not bring it back. To re-add an expired
  * partition, commit it again; [[commit]] clears the tombstone of every
  * name it writes. `buildHourly` with `resume = false` ignores both the
  * live set and the tombstones and rebuilds every day of its source, so it
  * re-adds every expired day the source still holds (build from a source
  * holding only that day to re-add just one). Manifests written before the
  * field existed parse as having no tombstones.
  *
  * Layout: <root>/data/<partition>/...parquet
  *         <root>/_snapshots/manifest-<seq>.json  (atomic rename)
  */
final class SnapshotStore(rootDir: String) {

  case class PartitionEntry(
      name: String,
      rows: Long,
      metrics: Map[String, String],
      lineage: String)

  /** `expired`: retention tombstones, the partitions [[expire]] dropped
    * that no later [[commit]] has written again
    */
  case class Snapshot(
      seq: Long,
      parent: Long,
      partitions: Seq[PartitionEntry],
      expired: Set[String] = Set.empty)

  private val root = Paths.get(rootDir)
  private val snapDir = root.resolve("_snapshots")
  Files.createDirectories(snapDir)
  Files.createDirectories(root.resolve("data"))

  def dataPath(partition: String): String =
    root.resolve("data").resolve(partition).toString

  // ------------------------------------------------------- manifest io

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def render(s: Snapshot): String = {
    val parts = s.partitions.map { p =>
      val ms = p.metrics.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      s"""{"name":"${esc(p.name)}","rows":${p.rows},"lineage":"${esc(p.lineage)}","metrics":{$ms}}"""
    }.mkString(",")
    val expired = s.expired.toSeq.sorted.map(n => s""""${esc(n)}"""").mkString(",")
    s"""{"seq":${s.seq},"parent":${s.parent},"ts":${System.currentTimeMillis()},"expired":[$expired],"partitions":[$parts]}"""
  }

  // minimal JSON parse for our own manifests (flat, known shape)
  private def parse(json: String): Snapshot = {
    def longField(name: String, from: String): Long = {
      val m = s""""$name":(-?\\d+)""".r.findFirstMatchIn(from)
      m.map(_.group(1).toLong).getOrElse(-1L)
    }
    val partRe =
      """\{"name":"((?:[^"\\]|\\.)*)","rows":(\d+),"lineage":"((?:[^"\\]|\\.)*)","metrics":\{((?:[^{}])*)\}\}""".r
    val parts = partRe.findAllMatchIn(json).map { m =>
      val metrics = """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r
        .findAllMatchIn(m.group(4))
        .map(mm => unesc(mm.group(1)) -> unesc(mm.group(2))).toMap
      PartitionEntry(unesc(m.group(1)), m.group(2).toLong, metrics, unesc(m.group(3)))
    }.toSeq
    val str = """"((?:[^"\\]|\\.)*)"""".r
    val expired = """"expired":\[((?:"(?:[^"\\]|\\.)*",?)*)\]""".r.findFirstMatchIn(json)
      .map(m => str.findAllMatchIn(m.group(1)).map(mm => unesc(mm.group(1))).toSet)
      .getOrElse(Set.empty[String])
    Snapshot(longField("seq", json), longField("parent", json), parts, expired)
  }

  private def unesc(s: String): String =
    s.replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")

  def latestSnapshot(): Option[Snapshot] = {
    val manifests = Using.resource(Files.list(snapDir))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("manifest-\\d+\\.json"))
      .toSeq)
    if (manifests.isEmpty) None
    else {
      val latest = manifests.maxBy(p =>
        p.getFileName.toString.stripPrefix("manifest-").stripSuffix(".json").toLong)
      Some(parse(new String(Files.readAllBytes(latest), StandardCharsets.UTF_8)))
    }
  }

  def committedPartitions(): Set[String] =
    latestSnapshot().map(_.partitions.map(_.name).toSet).getOrElse(Set.empty)

  /** Append/replace partitions and commit a new snapshot (atomic rename).
    * Clears the retention tombstones of the committed names.
    */
  def commit(newPartitions: Seq[PartitionEntry]): Snapshot = {
    val prev = latestSnapshot()
    val prevParts = prev.map(_.partitions).getOrElse(Nil)
    val replaced = newPartitions.map(_.name).toSet
    val merged = prevParts.filterNot(p => replaced.contains(p.name)) ++ newPartitions
    val snap = Snapshot(prev.map(_.seq + 1).getOrElse(0L), prev.map(_.seq).getOrElse(-1L), merged,
      prev.map(_.expired).getOrElse(Set.empty[String]) -- replaced)
    writeManifest(snap)
    snap
  }

  /** Retention: drop partitions (by predicate on partition name) in a new
    * snapshot that tombstones their names, then delete their data
    * directories (expireSnapshots + dropPartitions in Iceberg terms).
    */
  def expire(drop: String => Boolean): Snapshot = {
    val prev = latestSnapshot().getOrElse(Snapshot(-1L, -1L, Nil))
    val (dead, live) = prev.partitions.partition(p => drop(p.name))
    val snap = Snapshot(prev.seq + 1, prev.seq, live, prev.expired ++ dead.map(_.name))
    writeManifest(snap)
    dead.foreach { p =>
      val dir = root.resolve("data").resolve(p.name)
      if (Files.exists(dir)) {
        Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq)
          .reverse.foreach(Files.deleteIfExists(_))
      }
    }
    snap
  }

  private def writeManifest(snap: Snapshot): Unit = {
    val tmp = snapDir.resolve(s".manifest-${snap.seq}.json.tmp")
    Files.write(tmp, render(snap).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, snapDir.resolve(s"manifest-${snap.seq}.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }
}
