package graft.streaming

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Append-only right-to-be-forgotten LEDGER for a standing store — the
  * piece that makes an RTBF request survive a [[graft.SnapshotTool]]
  * restore (round-15 verdict #1). Tombstones live INSIDE the swapped
  * store root, so a whole-root restore swaps them away: a compliance
  * delete satisfied (tombstoned + compacted) between snapshot and
  * restore would be silently UNDONE — the document's bytes come back
  * and every probe serves them. The ledger records every forget OUTSIDE
  * the swapped root, as a sibling directory (`<root>.forget_ledger/`,
  * the `.snapshots/` placement pattern), so no maintenance swap can eat
  * it; [[graft.SnapshotTool.restore]] re-applies the ledger's effective
  * set as fresh tombstones INSIDE the staged snapshot before the
  * commit-marker promote — the restored store is never, at any instant,
  * serving a forgotten document.
  *
  * The ledger is an append-only LOG, not a mutable set: `forget` lines
  * add ids, `resurrect` lines cancel earlier forgets (the explicit
  * fat-finger escape hatch — an operator who forgot the WRONG ids
  * restores with `--resurrect`, which both skips the re-apply and
  * appends the cancellation so FUTURE restores skip it too). Append-only
  * keeps every write crash-safe: an entry file is published with one
  * atomic exclusive create, and a crash between a store tombstone write
  * and its ledger append leaves at worst a forget that must be re-run —
  * never a recorded forget that was not applied (the ledger is written
  * AFTER the store accepts the tombstone).
  *
  * Scale shape: the ledger is delete-request-sized (ids, never
  * documents); reads list one directory and stream entry files through
  * the driver — the same O(requests) metadata cost as the tombstone
  * relations themselves.
  *
  * Reference intent: e2e/SingerEndToEndTest.java:26-121 oracles the
  * WHOLE agent — a delete is an agent-level contract, so it must hold
  * across the ops surface (snapshots included), not just the live path.
  */
object ForgetLedger {

  def ledgerDir(root: String): String =
    root.stripSuffix("/") + ".forget_ledger"

  private def fs(spark: SparkSession, p: String): FileSystem =
    FileSystem.get(new URI(p), spark.sessionState.newHadoopConf())

  /** Record forgets of `ids` (applied to the store as kind `kind`). */
  def append(spark: SparkSession, root: String, kind: String,
      ids: Seq[Long]): Unit =
    appendLines(spark, root, ids.distinct.sorted.map(id => s"forget\t${kind.toLowerCase}\t$id"))

  /** Record cancellations: `ids = None` cancels EVERY prior forget for
    * `kind` (`--resurrect all`), `Some(ids)` only those ids. */
  def appendResurrect(spark: SparkSession, root: String, kind: String,
      ids: Option[Seq[Long]]): Unit =
    appendLines(spark, root, ids match {
      case None => Seq(s"resurrect\t${kind.toLowerCase}\t*")
      case Some(xs) => xs.distinct.sorted.map(id => s"resurrect\t${kind.toLowerCase}\t$id")
    })

  /** The EFFECTIVE forget set per store kind: replay the log in entry
    * order (sequence number, then file name for same-instant appends —
    * deterministic; a genuinely concurrent forget and resurrect of the
    * same id is an operator race whose outcome is pinned but arbitrary).
    * Returns kind → sorted ids still owed a tombstone. */
  def effective(spark: SparkSession, root: String): Map[String, Seq[Long]] = {
    val live = scala.collection.mutable.Map.empty[String, scala.collection.mutable.LinkedHashSet[Long]]
    entryFiles(spark, root).foreach { p =>
      readLines(spark, root, p).foreach { line =>
        line.split("\t", 3) match {
          case Array("forget", kind, id) =>
            live.getOrElseUpdate(kind, scala.collection.mutable.LinkedHashSet.empty) += id.toLong
          case Array("resurrect", kind, "*") => live.remove(kind); ()
          case Array("resurrect", kind, id) =>
            live.get(kind).foreach(_ -= id.toLong)
          case _ => () // unknown line shape: ignore (forward compatibility)
        }
      }
    }
    live.iterator.map { case (k, s) => k -> s.toSeq.sorted }
      .filter(_._2.nonEmpty).toMap
  }

  /** True when the store has any ledger entry at all (cheap existence
    * probe for status/`list` surfaces). */
  def exists(spark: SparkSession, root: String): Boolean =
    entryFiles(spark, root).nonEmpty

  /** Write the effective ledger set INTO a (staged, not yet live) store
    * root as one fresh tombstone epoch per kind — [[graft.SnapshotTool
    * .restore]]'s hook: the re-applied tombstones ride the same
    * commit-marker promote as the snapshot bytes, so the restored store
    * masks the forgotten ids from its very first live read. Writes with
    * the kind's OWN id column and epoch key, at an epoch reserved by
    * [[StoreTombstones.nextEpoch]] — past every tombstone epoch and
    * reservation the snapshot itself captured (re-applying an id the
    * snapshot already tombstones is harmless — the mask is a union). */
  def reapplyInto(spark: SparkSession, stagingRoot: String,
      entries: Map[String, Seq[Long]]): Unit = {
    import spark.implicits._
    entries.toSeq.sortBy(_._1).foreach { case (kind, ids) =>
      StoreTombstones.write(ids.toDF("id"), kind, stagingRoot,
        StoreTombstones.nextEpoch(spark, stagingRoot), idCol = "id",
        intentRoots = Nil)
    }
  }

  // ---- entry-file plumbing ----------------------------------------------

  /** Entry files in replay order: (sequence, name). */
  private def entryFiles(spark: SparkSession, root: String): Seq[Path] = {
    val d = new Path(ledgerDir(root))
    val f = fs(spark, root)
    if (!f.exists(d)) Nil
    else f.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith("entry-"))
      .sortBy(p => (seqOf(p.getName), p.getName)).toSeq
  }

  private def seqOf(name: String): Long =
    name.split('-').lift(1).flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(Long.MaxValue)

  private def appendLines(spark: SparkSession, root: String,
      lines: Seq[String]): Unit = {
    if (lines.isEmpty) return
    val f = fs(spark, root)
    val d = new Path(ledgerDir(root))
    f.mkdirs(d)
    val seq = f.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith("entry-"))
      .map(seqOf).foldLeft(-1L)(math.max) + 1L
    // atomic exclusive create; the uuid suffix makes a same-seq race two
    // distinct entries ordered by name instead of a lost write
    val p = new Path(d, f"entry-$seq%012d-${java.util.UUID.randomUUID()}")
    val out = f.create(p, false)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readLines(spark: SparkSession, root: String, p: Path): Seq[String] = {
    val in = fs(spark, root).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .linesIterator.filter(_.nonEmpty).toSeq
    finally in.close()
  }
}
