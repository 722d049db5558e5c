package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.model.PipelineConfig
import graft.sources.ThriftLogCodec
import graft.streaming.DataPipelines

/** Operator CLI tools — the reference's `tools/` debugging surface
  * re-expressed (reference: tools/LogConfigCheckTool.java,
  * tools/ThriftLogDumper.java). Both are pure functions plus a thin main,
  * so specs drive the logic directly. */
object ConfigCheck {

  /** Validate every `*.properties` pipeline definition under `dir`.
    * Returns (fileName, problem) pairs; empty = all valid. A missing
    * logDir is reported as a `warn:` (the runtime HOLDS such pipelines
    * and releases them when the dir appears — MissingDirChecker semantics
    * — so it is not a config error). Kafka topic existence, which the
    * reference checks with a live AdminClient, needs the client jar and
    * is out of scope here (same stance as the writer seams). */
  def check(dir: Path): Seq[(String, String)] = {
    if (!Files.isDirectory(dir))
      return Seq((dir.toString, "error: not a directory"))
    val s = Files.list(dir)
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".properties")).toSeq
      finally s.close()
    if (files.isEmpty) return Seq((dir.toString, "error: no *.properties files"))
    files.sortBy(_.getFileName.toString).flatMap { p =>
      val fn = p.getFileName.toString
      val name = fn.stripSuffix(".properties")
      try {
        val text = Files.readString(p)
        DataPipelines.fromProperties(text, name) match {
          case Some(_) => Nil // data-pipeline spec parsed fine
          case None =>
            val cfg = PipelineConfig.fromProperties(text, name)
            if (!Files.isDirectory(Paths.get(cfg.logDir)))
              Seq((fn, s"warn: logDir '${cfg.logDir}' does not exist (held until it appears)"))
            else Nil
        }
      } catch {
        case e: Exception =>
          Seq((fn, s"error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("conf.d"))
    val problems = check(dir)
    problems.foreach { case (f, msg) => System.err.println(s"$f: $msg") }
    if (problems.exists(_._2.startsWith("error"))) sys.exit(1)
    println(s"ok: ${dir.toString} valid (${problems.count(_._2.startsWith("warn"))} warning(s))")
  }
}

/** Dump a framed-thrift log file record by record — the debugging loupe for
  * ingestion issues (reference: tools/ThriftLogDumper.java). Shows the
  * offset chain, timestamps, key/payload previews, and whether the stored
  * CRC32 matches the payload (the same `java.util.zip.CRC32`-parity check
  * the transform pipeline applies). */
object ThriftLogDump {

  def dump(path: Path, startOffset: Long = 0L, max: Int = Int.MaxValue): Seq[String] = {
    val bytes = Files.readAllBytes(path)
    ThriftLogCodec.decodeFrames(bytes, startOffset).take(max).map { m =>
      val crc = Option(m.checksum) match {
        case None => "absent"
        case Some(c) =>
          val crc32 = new java.util.zip.CRC32()
          crc32.update(m.message)
          if (crc32.getValue == c) "ok" else s"BAD(stored=$c computed=${crc32.getValue})"
      }
      val keyPrev = preview(m.key)
      val msgPrev = preview(m.message)
      s"offset=${m.nextByteOffset} ts=${Option(m.timestampNanos).getOrElse("-")} " +
        s"crc=$crc key=$keyPrev len=${m.message.length} payload=$msgPrev"
    }.toSeq
  }

  private def preview(b: Array[Byte], n: Int = 40): String = {
    if (b == null || b.isEmpty) return "<empty>"
    val slice = b.take(n)
    val printable = slice.forall(c => c >= 0x20 && c < 0x7F)
    val s = if (printable) new String(slice, java.nio.charset.StandardCharsets.US_ASCII)
      else slice.map(x => f"${x & 0xFF}%02x").mkString
    if (b.length > n) s + "..." else s
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ThriftLogDump <file> [startOffset] [maxRecords]")
    val out = dump(Paths.get(args(0)),
      args.lift(1).map(_.toLong).getOrElse(0L),
      args.lift(2).map(_.toInt).getOrElse(Int.MaxValue))
    out.foreach(println)
    System.err.println(s"${out.size} record(s)")
  }
}

/** Deterministic framed-thrift test-log generator — ThriftLogDump's twin
  * (reference: tools/ThriftLogGenerator.java): produce `n` checksummed
  * records for smoke-testing an ingestion pipeline end to end without a
  * producer. Payloads are seeded by index, so two runs with the same
  * arguments are byte-identical (reproducible fixtures). */
object ThriftLogGen {

  def generate(path: Path, n: Int, payloadBytes: Int = 64): Long = {
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path))
    try {
      var written = 0L
      (0 until n).foreach { i =>
        val payload = (s"record-$i:" + "x" * payloadBytes).take(payloadBytes)
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val crc = new java.util.zip.CRC32()
        crc.update(payload)
        val frame = ThriftLogCodec.encodeFrame(s"key-$i".getBytes, payload,
          timestampNanos = Some(i.toLong * 1000000L), checksum = Some(crc.getValue))
        out.write(frame)
        written += frame.length
      }
      written
    } finally out.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ThriftLogGen <file> <nRecords> [payloadBytes]")
    val bytes = generate(Paths.get(args(0)), args(1).toInt,
      args.lift(2).map(_.toInt).getOrElse(64))
    System.err.println(s"wrote ${args(1)} record(s), $bytes bytes to ${args(0)}")
  }
}

/** Right-to-be-forgotten CLI — tombstone ids in a standing store
  * (including the curation state, whose tombstones also erase the dedup
  * FINGERPRINTS so re-submissions of erased content are admitted). Safe
  * while the owning pipeline RUNS (tombstones land as their own epoch
  * relation; probes and reads mask them immediately via the broadcast
  * anti-join every store's read path applies); the next [[CompactTool]]
  * run purges the bytes and retires the tombstones. NOT safe during a
  * maintenance swap — the store's [[graft.streaming.MaintenanceLease]]
  * makes that a loud refusal instead of a silently lost delete. Unless an
  * epoch is given, each invocation takes the next free one from
  * [[graft.streaming.StoreTombstones.nextEpoch]], which owns the delete
  * format and its epoch reservations (see ARCHITECTURE.md, "Standing
  * stores: one tombstone store").
  *
  * CROSS-STORE mode (`all`): a real pipeline stores the same document in
  * several standing stores at once (BM25 + IVF + packed + curation) — a
  * right-to-be-forgotten request is an AGENT-level contract (reference:
  * e2e/SingerEndToEndTest.java:26-121 oracles the whole agent, not
  * per-writer), so one invocation must tombstone every store; between a
  * partial forget and the rest, the fused retrieval path masks at the
  * fusion level too ([[graft.streaming.StreamingHybrid]]).
  *
  * Usage: graft.ForgetTool <ivf|bm25|packed|curation> <path> <id,id,...|@idsFile> [epoch]
  *        graft.ForgetTool all <confDir | kind=path[,kind=path...]> <id,id,...|@idsFile>
  */
object ForgetTool {

  def forget(spark: org.apache.spark.sql.SparkSession, kind: String,
      path: String, ids: Seq[Long], epoch: Option[Long] = None): Long = {
    import spark.implicits._
    val delete: Long => Unit = kind.toLowerCase match {
      case "ivf" => graft.streaming.StreamingIvf.deleteEpoch(ids.toDF("vec_id"), path, _)
      case "bm25" => graft.streaming.StreamingBm25.deleteEpoch(ids.toDF("doc_id"), path, _)
      case "packed" => graft.sources.PackedCorpus.deleteEpoch(ids.toDF("doc_id"), path, _)
      case "curation" =>
        graft.streaming.StreamingCuration.deleteEpoch(ids.toDF("doc_id"), path, _)
      case other => throw new IllegalArgumentException(
        s"unknown store kind '$other' (want ivf|bm25|packed|curation)")
    }
    val e = epoch.getOrElse(graft.streaming.StoreTombstones.nextEpoch(spark, path))
    delete(e)
    // ledger AFTER the store accepts the tombstone (a crash in between
    // leaves a forget to re-run, never a recorded-but-unapplied one):
    // the sibling [[graft.streaming.ForgetLedger]] lives OUTSIDE the
    // swapped root, so a SnapshotTool restore re-applies it instead of
    // silently resurrecting the forgotten docs (round-15 verdict #1)
    graft.streaming.ForgetLedger.append(spark, path, kind, ids)
    e
  }

  /** Tombstone `ids` in EVERY listed store — the one-invocation RTBF an
    * operator actually owes a delete request. Per-store epochs are
    * reservation-allocated independently (the stores share no epoch
    * space). Fails FAST on the first refusing store (e.g. one under a
    * maintenance lease) so the operator re-runs the whole request after
    * the maintenance finishes — tombstoning is idempotent (a re-run
    * re-masks already-masked ids), so the retry is always safe. */
  def forgetAll(spark: org.apache.spark.sql.SparkSession,
      stores: Seq[(String, String)], ids: Seq[Long]): Seq[(String, String, Long)] =
    stores.map { case (kind, path) =>
      (kind, path, forget(spark, kind, path, ids))
    }

  /** Resolve `all`'s target list: a conf directory's data-pipeline specs
    * (kind = the spec's `pipeline.type`, path = its store root), or an
    * inline `kind=path[,kind=path...]` list. */
  def resolveStores(target: String): Seq[(String, String)] = {
    val dir = Paths.get(target)
    if (Files.isDirectory(dir)) {
      val stores = GraftMain.loadDataConfigs(dir).map {
        case c: DataPipelines.Curation => "curation" -> c.stateDir
        case i: DataPipelines.Ivf => "ivf" -> i.indexPath
        case b: DataPipelines.Bm25 => "bm25" -> b.indexPath
        case p: DataPipelines.Packed => "packed" -> p.packedDir
      }
      require(stores.nonEmpty,
        s"no data-pipeline specs (pipeline.type=...) under $target")
      stores
    } else target.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, p) if p.nonEmpty => (k.trim.toLowerCase, p.trim)
        case _ => throw new IllegalArgumentException(
          s"bad store spec '$kv' (want kind=path)")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ForgetTool <ivf|bm25|packed|curation> <path> <id,id,...|@idsFile> [epoch]\n" +
        "       ForgetTool all <confDir | kind=path[,kind=path...]> <id,id,...|@idsFile>")
    val ids: Seq[Long] =
      if (args(2).startsWith("@"))
        Files.readAllLines(Paths.get(args(2).drop(1))).asScala.toSeq
          .map(_.trim).filter(_.nonEmpty).map(_.toLong)
      else args(2).split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    require(ids.nonEmpty, "no ids to forget")
    val spark = GraftSession.builder("graft-forget")
      .master(GraftSession.defaultMaster).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (args(0).equalsIgnoreCase("all")) {
        val done = forgetAll(spark, resolveStores(args(1)), ids)
        done.foreach { case (kind, path, e) =>
          System.err.println(
            s"tombstoned ${ids.size} id(s) in $kind store at $path (epoch=$e)")
        }
        System.err.println(
          s"cross-store forget complete: ${done.size} store(s); run " +
            "CompactTool per store to purge the bytes")
      } else {
        val e = forget(spark, args(0), args(1), ids,
          args.lift(3).map(_.toLong))
        System.err.println(
          s"tombstoned ${ids.size} id(s) in ${args(0)} store at ${args(1)} " +
            s"(epoch=$e); next CompactTool run purges the bytes")
      }
    } finally spark.stop()
  }
}

/** Stopped-pipeline state maintenance CLI — fold a standing store's
  * per-epoch directories into one (`epoch=-1` / `batch=-1`) via
  * [[graft.streaming.StateCompaction]]'s crash-safe commit-marker swap.
  * The reference keeps state maintenance in operator tooling (its
  * `tools/` tree); same stance here. Run ONLY while the owning pipeline
  * is drained (admin socket `stop`) — compaction rewrites the directory
  * the next epoch appends into; the checkpoint is untouched, so a
  * restart resumes from the compacted state exactly
  * ([[graft.streaming.StreamingCuration.compactState]]'s contract).
  *
  * Usage: graft.CompactTool <ivf|bm25|packed|curation> <path> [targetFileBytes]
  */
object CompactTool {

  def compact(spark: org.apache.spark.sql.SparkSession, kind: String,
      path: String,
      targetFileBytes: Long = graft.streaming.StateCompaction.DefaultTargetFileBytes): Unit =
    kind.toLowerCase match {
      case "ivf" => graft.streaming.StreamingIvf.compact(spark, path, targetFileBytes)
      case "bm25" => graft.streaming.StreamingBm25.compact(spark, path, targetFileBytes)
      case "packed" => graft.sources.PackedCorpus.compact(spark, path)
      case "curation" => graft.streaming.StreamingCuration.compactState(spark, path)
      case other => throw new IllegalArgumentException(
        s"unknown store kind '$other' (want ivf|bm25|packed|curation)")
    }

  /** `ivf-refit` subcommand: install a new quantizer (a centroids
    * parquet with (centroid_id, centroid_vec)) and re-route the whole
    * at-rest corpus under it in one commit-marker swap — the
    * centroid-drift answer ([[graft.streaming.StreamingIvf.refit]]).
    * `bm25-rebucket` is the lexical twin: re-route the postings under a
    * new bucket count ([[graft.streaming.StreamingBm25.rebucket]]). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CompactTool <ivf|bm25|packed|curation> <path> [targetFileBytes]\n" +
        "       CompactTool ivf-refit <path> <centroidsParquet>\n" +
        "       CompactTool bm25-rebucket <path> <nBuckets>")
    val spark = GraftSession.builder("graft-compact")
      .master(GraftSession.defaultMaster).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args(0).toLowerCase match {
        case "ivf-refit" =>
          require(args.length >= 3,
            "usage: CompactTool ivf-refit <path> <centroidsParquet>")
          graft.streaming.StreamingIvf.refit(spark, args(1),
            spark.read.parquet(args(2)))
          System.err.println(s"refit ivf store at ${args(1)} with ${args(2)}")
        case "bm25-rebucket" =>
          require(args.length >= 3,
            "usage: CompactTool bm25-rebucket <path> <nBuckets>")
          graft.streaming.StreamingBm25.rebucket(spark, args(1), args(2).toInt)
          System.err.println(
            s"rebucketed bm25 store at ${args(1)} to nBuckets=${args(2)}")
        case _ =>
          compact(spark, args(0), args(1),
            args.lift(2).map(_.toLong)
              .getOrElse(graft.streaming.StateCompaction.DefaultTargetFileBytes))
          System.err.println(s"compacted ${args(0)} store at ${args(1)}")
      }
    } finally spark.stop()
  }
}

/** Point-in-time SNAPSHOT and RESTORE for a standing store — the undo
  * button the maintenance surface was missing: the stores survive
  * crashes (commit-marker swaps) and deletes (tombstones), but a BAD
  * maintenance op (a refit against wrong centroids, a fat-fingered
  * forget of the wrong ids, a mistaken compact) was unrecoverable except
  * by rebuilding from the source of truth — days at 100 TB. A snapshot
  * is a MANIFEST (relative path + length per live file) plus a byte copy
  * of the store root under the sibling `<root>.snapshots/<name>/`
  * directory. The copy is CLUSTER-PARALLEL, never a driver funnel
  * ([[graft.streaming.DistributedCopy]]: the driver lists metadata, one
  * Spark task per file moves the bytes — the DistCp shape, so a 100-TB
  * snapshot runs at the fleet's aggregate NIC bandwidth); restore
  * VERIFIES the manifest and swaps the snapshot back over the live root
  * through [[graft.streaming.StateCompaction.swapIn]]'s commit-marker
  * protocol, so a crash mid-restore finishes or rolls forward exactly
  * like any other maintenance swap — never a half-restored store — and a
  * DESTROYED live root (the disaster restore exists for) still restores:
  * swapIn promotes unconditionally, unlike compaction's
  * nothing-to-fold no-op guards (round-15 advisory). Both ops run under
  * the store's [[graft.streaming.MaintenanceLease]] (snapshots of a
  * store mid-epoch-write would capture a torn epoch).
  *
  * RIGHT TO BE FORGOTTEN survives a restore (round-15 verdict #1): the
  * stores' tombstones live INSIDE the swapped root, so a naive
  * whole-root restore would silently resurrect every document forgotten
  * between snapshot and restore — a compliance delete undone by an ops
  * action. Every [[ForgetTool]] invocation therefore also appends the
  * ids to the store's [[graft.streaming.ForgetLedger]] (a sibling
  * directory OUTSIDE the swapped root), and restore RE-APPLIES the
  * ledger's effective set as a fresh tombstone epoch INSIDE the staged
  * snapshot — re-applied forgets ride the same commit-marker promote as
  * the snapshot bytes, so the restored store is never, at any instant,
  * serving a forgotten document. The FAT-FINGER case (the forget itself
  * was the damage) is an EXPLICIT escape hatch: `--resurrect <ids|all>`
  * skips the re-apply for those ids and appends the cancellation to the
  * ledger so future restores skip them too. Forgets that happened
  * BEFORE the snapshot are part of the captured state (their bytes may
  * already be compacted away) — resurrect cannot bring those back.
  *
  * Snapshots are IMMUTABLE (a name cannot be re-snapshotted) and live
  * OUTSIDE the swapped root, so maintenance swaps can never eat them.
  * Full-size copies accumulate forever at 100 TB each, so the lifecycle
  * surface is first-class:
  *  - INCREMENTAL snapshots (`--base <name>`): the standing stores'
  *    epoch files are immutable once written (every mutation lands as a
  *    NEW epoch; maintenance REPLACES whole directories), so
  *    consecutive snapshots share almost every byte. An incremental
  *    snapshot copies only files that changed vs the base — identity is
  *    (relative path, length, live mtime), recorded in the manifest at
  *    capture — and records a POINTER to the base's copy for the rest
  *    (resolved transitively at capture time, so a chain is always one
  *    manifest deep and restore never walks chains). Ref'd files are
  *    length-verified against their source AT SNAPSHOT TIME, so a base
  *    that lost a file fails the snapshot, not the restore. A daily
  *    snapshot of a 100-TB store costs one day's epochs, not 100 TB.
  *  - `list` reports per-snapshot file count, LOGICAL bytes, OWN bytes
  *    (what a delete would actually free) and age;
  *  - `delete` prunes one — refusing while any maintenance lease is
  *    held on the store (a concurrent restore may be reading the very
  *    snapshot) and refusing while any OTHER snapshot's manifest still
  *    references this one's files;
  *  - `verify` is restore's integrity gate standalone (every own and
  *    base-referenced file present at its manifest length,
  *    metadata-only) — the scheduled backup fsck that surfaces a
  *    damaged snapshot before the day it is needed;
  *  - `prune --keep <n>` is chain-aware retention: the newest n
  *    survive PLUS every base a kept incremental references; the rest
  *    delete newest-first so dependents always go before their bases.
  * Restore is MANIFEST-driven (files only): no graft store encodes
  * state in empty directories, so they are not part of the snapshot
  * contract.
  *
  * Usage: graft.SnapshotTool snapshot <storeRoot> <name> [--base <name>]
  *        graft.SnapshotTool restore <storeRoot> <name> [--resurrect all|id,id,...]
  *        graft.SnapshotTool list <storeRoot>
  *        graft.SnapshotTool verify <storeRoot> <name>
  *        graft.SnapshotTool delete <storeRoot> <name>
  *        graft.SnapshotTool prune <storeRoot> --keep <n>
  */
object SnapshotTool {

  private val ManifestName = "MANIFEST"

  def snapshotsDir(root: String): String = root.stripSuffix("/") + ".snapshots"

  /** One manifest row: file `rel` of `len` bytes whose BYTES live in
    * snapshot `source`'s data directory (`"."` = this snapshot);
    * `mtime` is the LIVE file's modification time at capture — the
    * identity key incremental snapshots compare (epoch files are
    * immutable, and Spark part files carry task UUIDs, so an unchanged
    * (rel, len, mtime) triple is the same bytes). */
  private final case class ManifestEntry(rel: String, len: Long,
      mtime: Long, source: String)

  /** Which (if any) ledgered forgets to CANCEL during a restore. */
  sealed trait Resurrect
  case object ResurrectNone extends Resurrect
  case object ResurrectAll extends Resurrect
  final case class ResurrectIds(ids: Set[Long]) extends Resurrect

  /** One `list` row: name, file count, LOGICAL bytes (the restored store's
    * size), OWN bytes (copied here, what a delete frees — smaller for
    * incremental snapshots), creation mtime. */
  final case class SnapshotInfo(name: String, files: Long, bytes: Long,
      ownBytes: Long, createdMs: Long)

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, p: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sessionState.newHadoopConf())

  private def requireName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"snapshot name must be [A-Za-z0-9._-]+: '$name'")

  /** Take snapshot `name` of the store at `root`. Returns the number of
    * files captured (manifest entries — copied plus base-referenced when
    * `base` is given). Holds the lease for the duration (a snapshot
    * racing an epoch write or another maintenance op would capture a
    * torn state); finishes any torn root swap first so the captured
    * bytes are a committed state, not a mid-promote one. */
  def snapshot(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, base: Option[String] = None): Long = {
    requireName(name)
    base.foreach(requireName)
    require(!base.contains(name), "a snapshot cannot base on itself")
    graft.streaming.MaintenanceLease.withLease(spark, root, op = "snapshot") { fence =>
      graft.streaming.StateCompaction.recover(spark, root)
      val fs = hadoopFs(spark, root)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      require(fs.exists(rootPath), s"no store at $root")
      val snapDir = new org.apache.hadoop.fs.Path(s"${snapshotsDir(root)}/$name")
      require(!fs.exists(snapDir),
        s"snapshot '$name' already exists at $snapDir (snapshots are immutable; " +
          "pick a new name)")
      val live = listLive(fs, rootPath) // (rel, len, mtime) — metadata walk
      val baseEntries: Map[String, ManifestEntry] = base match {
        case None => Map.empty
        case Some(b) =>
          val bd = new org.apache.hadoop.fs.Path(s"${snapshotsDir(root)}/$b")
          require(fs.exists(new org.apache.hadoop.fs.Path(bd, ManifestName)),
            s"no base snapshot '$b' at $bd")
          readManifest(fs, bd).map(e => e.rel -> e).toMap
      }
      val entries = live.map { case (rel, len, mtime) =>
        baseEntries.get(rel) match {
          // unchanged vs the base: POINT at where the base keeps the
          // bytes (transitive — a chain stays one manifest deep)
          case Some(be) if be.len == len && be.mtime == mtime =>
            ManifestEntry(rel, len, mtime,
              if (be.source == ".") base.get else be.source)
          case _ => ManifestEntry(rel, len, mtime, ".")
        }
      }
      val dataDir = new org.apache.hadoop.fs.Path(snapDir, "data")
      val toCopy = entries.filter(_.source == ".")
      // cluster-parallel delta copy; each task length-verifies its file
      graft.streaming.DistributedCopy.copyFiles(spark, rootPath.toString,
        dataDir.toString, toCopy.map(e => (e.rel, e.len)))
      if (toCopy.isEmpty) fs.mkdirs(dataDir) // a pure-ref snapshot still has a home
      // ref'd entries are verified against their SOURCE now: a base that
      // lost or truncated a file fails this snapshot, not a future restore
      entries.filter(_.source != ".").foreach { e =>
        val p = new org.apache.hadoop.fs.Path(
          s"${snapshotsDir(root)}/${e.source}/data/${e.rel}")
        require(fs.exists(p) && fs.getFileStatus(p).getLen == e.len,
          s"base snapshot '${e.source}' no longer holds ${e.rel} at ${e.len} " +
            "bytes; take a full snapshot instead")
      }
      writeManifest(fs, snapDir, entries)
      fence() // still the lease holder: the snapshot captured a quiet store
      entries.size.toLong
    }
  }

  /** Restore the store at `root` to snapshot `name`: verify every
    * manifest entry is present in the snapshot with its recorded length,
    * stage the snapshot bytes (cluster-parallel copy) PLUS the forget
    * ledger's re-applied tombstones, then swap the staging over the live
    * root through the commit-marker protocol (staging write → fence →
    * marker → promote; a crash anywhere is finished by the next
    * maintenance op's `recover`). After the swap the live store serves
    * the captured state MINUS every ledgered forget (see the class doc);
    * `resurrect` cancels chosen forgets and records the cancellation. */
  def restore(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, resurrect: Resurrect = ResurrectNone): Unit = {
    requireName(name)
    graft.streaming.MaintenanceLease.withLease(spark, root, op = "restore") { fence =>
      val fs = hadoopFs(spark, root)
      val snapDir = new org.apache.hadoop.fs.Path(s"${snapshotsDir(root)}/$name")
      require(fs.exists(new org.apache.hadoop.fs.Path(snapDir, ManifestName)),
        s"no snapshot '$name' at $snapDir")
      // integrity gate BEFORE touching the live store: a snapshot that
      // lost or truncated files (its own OR a base's it references) must
      // fail the restore, not half-apply
      val manifest = verifiedManifest(fs, root, name)
      def sourceDataDir(source: String): String =
        SnapshotTool.sourceDataDir(root, name, source)
      // the ledger's effective forgets, minus the operator's explicit
      // resurrections — computed BEFORE the swap so the re-apply rides it
      val owed = graft.streaming.ForgetLedger.effective(spark, root)
      val reapply = resurrect match {
        case ResurrectNone => owed
        case ResurrectAll => Map.empty[String, Seq[Long]]
        case ResurrectIds(ids) =>
          owed.map { case (k, v) => k -> v.filterNot(ids.contains) }
            .filter(_._2.nonEmpty)
      }
      // swapIn, not compactWith: a destroyed/emptied live root must still
      // restore (disaster path) — promote unconditionally. The staging is
      // assembled MANIFEST-driven, one cluster-parallel copy per source
      // snapshot (an incremental snapshot restores at exactly the same
      // cost as a full one — the bytes just come from several data dirs).
      graft.streaming.StateCompaction.swapIn(spark, root, fence) { staging =>
        manifest.groupBy(_.source).toSeq.sortBy(_._1).foreach {
          case (source, es) =>
            graft.streaming.DistributedCopy.copyFiles(spark,
              sourceDataDir(source), staging, es.map(e => (e.rel, e.len)))
        }
        if (reapply.nonEmpty)
          graft.streaming.ForgetLedger.reapplyInto(spark, staging, reapply)
      }
      // record the cancellation AFTER the promote: a crash in between
      // leaves the resurrected docs served (as requested) with the ledger
      // still owing them — re-run the restore with the same --resurrect
      // to finish; the conservative failure mode (re-masking) never
      // silently un-forgets anything
      resurrect match {
        case ResurrectNone => ()
        case ResurrectAll => owed.keys.toSeq.sorted.foreach(k =>
          graft.streaming.ForgetLedger.appendResurrect(spark, root, k, None))
        case ResurrectIds(ids) => owed.keys.toSeq.sorted.foreach { k =>
          val cancel = owed(k).filter(ids.contains)
          if (cancel.nonEmpty)
            graft.streaming.ForgetLedger.appendResurrect(spark, root, k, Some(cancel))
        }
      }
    }
  }

  /** Snapshot names recorded for `root`, oldest-first by mtime. */
  def list(spark: org.apache.spark.sql.SparkSession, root: String): Seq[String] =
    listDetailed(spark, root).map(_.name)

  /** Snapshots with their SIZE and AGE — what an operator pruning
    * full-size copies actually needs, oldest-first by capture time.
    * File count/bytes read from the manifest (one small file per
    * snapshot), not a tree walk. Capture time is the MANIFEST's mtime,
    * not the snapshot directory's: the manifest is written exactly once
    * at capture, while the directory's mtime moves whenever anything
    * inside it changes (a verify-repair, a fsck-detected damage, an
    * object-store lifecycle touch) — and retention order (`prune
    * --keep`) must never reshuffle under such touches. */
  def listDetailed(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[SnapshotInfo] = {
    val fs = hadoopFs(spark, root)
    val d = new org.apache.hadoop.fs.Path(snapshotsDir(root))
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).filter(_.isDirectory)
      .map { st =>
        val mp = new org.apache.hadoop.fs.Path(st.getPath, ManifestName)
        val hasManifest = fs.exists(mp)
        val entries = if (!hasManifest) Nil else readManifest(fs, st.getPath)
        SnapshotInfo(st.getPath.getName, entries.size.toLong,
          entries.map(_.len).sum,
          entries.filter(_.source == ".").map(_.len).sum,
          if (hasManifest) fs.getFileStatus(mp).getModificationTime
          else st.getModificationTime)
      }.sortBy(i => (i.createdMs, i.name)).toSeq
  }

  /** Delete snapshot `name` — the prune half of the lifecycle. Refuses
    * while ANY maintenance lease is live on the store (a concurrent
    * restore may be mid-copy out of this very snapshot), and while any
    * OTHER snapshot's manifest still references this one's files (an
    * incremental snapshot's bytes live in its base — deleting the base
    * would corrupt every dependent). */
  def delete(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String): Unit = {
    requireName(name)
    graft.streaming.MaintenanceLease.status(spark, root).foreach { st =>
      throw new IllegalStateException(
        s"refusing to delete snapshot '$name': maintenance op '${st.op}' holds " +
          s"the lease on $root (a restore may be reading the snapshot); " +
          "wait for it to finish")
    }
    val fs = hadoopFs(spark, root)
    val snapDir = new org.apache.hadoop.fs.Path(s"${snapshotsDir(root)}/$name")
    require(fs.exists(snapDir), s"no snapshot '$name' at $snapDir")
    val dependents = fs.listStatus(
        new org.apache.hadoop.fs.Path(snapshotsDir(root)))
      .filter(st => st.isDirectory && st.getPath.getName != name)
      .filter(st =>
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, ManifestName)) &&
          readManifest(fs, st.getPath).exists(_.source == name))
      .map(_.getPath.getName).sorted
    if (dependents.nonEmpty)
      throw new IllegalStateException(
        s"refusing to delete snapshot '$name': incremental snapshot(s) " +
          s"${dependents.mkString(", ")} reference its files; delete them first")
    if (!fs.delete(snapDir, true))
      throw new java.io.IOException(s"failed to delete snapshot at $snapDir")
  }

  /** Integrity-check snapshot `name` WITHOUT restoring: every manifest
    * entry — own bytes and base-referenced pointers alike — must exist
    * at its recorded length. This is exactly the gate `restore` runs
    * before touching the live store, exposed standalone so an operator
    * can fsck backups on a schedule and learn about a damaged snapshot
    * (or a damaged base under an incremental) BEFORE the day a restore
    * is needed. Metadata-only (existence + length, one status call per
    * file — no bytes move). Returns (files, bytes) checked. */
  def verify(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String): (Long, Long) = {
    requireName(name)
    val fs = hadoopFs(spark, root)
    require(fs.exists(new org.apache.hadoop.fs.Path(
        s"${snapshotsDir(root)}/$name/$ManifestName")),
      s"no snapshot '$name' at ${snapshotsDir(root)}/$name")
    val entries = verifiedManifest(fs, root, name)
    (entries.size.toLong, entries.map(_.len).sum)
  }

  /** Chain-aware retention: keep the `keep` NEWEST snapshots plus every
    * base a kept snapshot's manifest still references (a kept
    * incremental must stay restorable, so its bases survive the prune
    * even when they fall outside the newest `keep`); delete the rest,
    * newest-first, so dependents always go before their bases. Each
    * deletion runs through [[delete]] and keeps its guards (lease
    * refusal, dependent refusal — belt and braces under concurrent
    * snapshot creation). Returns the deleted names, newest-first. */
  def prune(spark: org.apache.spark.sql.SparkSession, root: String,
      keep: Int): Seq[String] = {
    require(keep >= 0, s"--keep must be >= 0, got $keep")
    val fs = hadoopFs(spark, root)
    val newestFirst = listDetailed(spark, root).reverse
    val kept = scala.collection.mutable.Set.empty[String]
    newestFirst.take(keep).foreach(i => kept += i.name)
    // close over pointer sources until stable: chains are one manifest
    // deep by construction, but a base may itself be incremental-format
    // after a manual copy — the fixpoint costs one extra manifest read
    var grew = true
    while (grew) {
      val before = kept.size
      kept.toSeq.foreach { n =>
        val md = new org.apache.hadoop.fs.Path(s"${snapshotsDir(root)}/$n")
        if (fs.exists(new org.apache.hadoop.fs.Path(md, ManifestName)))
          readManifest(fs, md).foreach(e => if (e.source != ".") kept += e.source)
      }
      grew = kept.size > before
    }
    val doomed = newestFirst.map(_.name).filterNot(kept.contains)
    doomed.foreach(n => delete(spark, root, n))
    doomed
  }

  /** Where snapshot `name` keeps the bytes for a manifest entry whose
    * `source` field is `src` (`"."` = the snapshot's own data dir). */
  private def sourceDataDir(root: String, name: String, src: String): String =
    if (src == ".") s"${snapshotsDir(root)}/$name/data"
    else s"${snapshotsDir(root)}/$src/data"

  /** Read snapshot `name`'s manifest and require every entry present at
    * its recorded length — the shared integrity gate behind [[restore]]
    * and [[verify]]. */
  private def verifiedManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: String, name: String): Seq[ManifestEntry] = {
    val snapDir = new org.apache.hadoop.fs.Path(s"${snapshotsDir(root)}/$name")
    val manifest = readManifest(fs, snapDir)
    manifest.foreach { e =>
      val p = new org.apache.hadoop.fs.Path(
        s"${sourceDataDir(root, name, e.source)}/${e.rel}")
      require(fs.exists(p), s"snapshot '$name' is corrupt: missing ${e.rel}" +
        (if (e.source == ".") "" else s" (referenced from '${e.source}')"))
      val got = fs.getFileStatus(p).getLen
      require(got == e.len,
        s"snapshot '$name' is corrupt: ${e.rel} has $got bytes, manifest says ${e.len}")
    }
    manifest
  }

  /** (rel, len, mtime) for every live file under `root` — one driver
    * metadata walk; mtime is the incremental-identity key. */
  private def listLive(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] = {
    val base = dir.toUri.getPath.stripSuffix("/")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      buf += ((rel, st.getLen, st.getModificationTime))
    }
    buf.sortBy(_._1).toSeq
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      snapDir: org.apache.hadoop.fs.Path, entries: Seq[ManifestEntry]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(snapDir, ManifestName), false)
    try out.write(entries.map(e => s"${e.len}\t${e.mtime}\t${e.source}\t${e.rel}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Tolerates the round-15 two-field format (`len\trel` — all-own,
    * no mtime identity) alongside the current four-field one. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      snapDir: org.apache.hadoop.fs.Path): Seq[ManifestEntry] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(snapDir, ManifestName))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        l.split("\t", 4) match {
          case Array(len, mtime, source, rel) =>
            ManifestEntry(rel, len.toLong, mtime.toLong, source)
          case Array(len, rel) => ManifestEntry(rel, len.toLong, -1L, ".")
          case other => throw new IllegalStateException(
            s"corrupt manifest line in $snapDir: '$l' (${other.length} fields)")
        }
      }.toSeq
    finally in.close()
  }

  private[graft] def parseResurrect(args: Seq[String]): Resurrect =
    args.indexOf("--resurrect") match {
      case -1 => ResurrectNone
      case i =>
        require(args.length > i + 1, "--resurrect needs all|id,id,...")
        args(i + 1) match {
          case "all" => ResurrectAll
          case ids => ResurrectIds(ids.split(',').map(_.trim)
            .filter(_.nonEmpty).map(_.toLong).toSet)
        }
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SnapshotTool snapshot <storeRoot> <name> [--base <name>]\n" +
        "       SnapshotTool restore <storeRoot> <name> [--resurrect all|id,id,...]\n" +
        "       SnapshotTool list <storeRoot>\n" +
        "       SnapshotTool verify <storeRoot> <name>\n" +
        "       SnapshotTool delete <storeRoot> <name>\n" +
        "       SnapshotTool prune <storeRoot> --keep <n>")
    val spark = GraftSession.builder("graft-snapshot")
      .master(GraftSession.defaultMaster).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args(0).toLowerCase match {
        case "snapshot" =>
          require(args.length >= 3, "snapshot <storeRoot> <name> [--base <name>]")
          val base = args.indexOf("--base") match {
            case -1 => None
            case i =>
              require(args.length > i + 1, "--base needs a snapshot name")
              Some(args(i + 1))
          }
          val n = snapshot(spark, args(1), args(2), base)
          System.err.println(s"snapshot '${args(2)}' of ${args(1)}: $n file(s)" +
            base.map(b => s" (incremental over '$b')").getOrElse(""))
        case "restore" =>
          require(args.length >= 3,
            "restore <storeRoot> <name> [--resurrect all|id,id,...]")
          val r = parseResurrect(args.toSeq.drop(3))
          restore(spark, args(1), args(2), r)
          System.err.println(s"restored ${args(1)} to snapshot '${args(2)}'" +
            (if (r == ResurrectNone) " (ledgered forgets re-applied)"
             else " (resurrected per --resurrect)"))
        case "list" =>
          listDetailed(spark, args(1)).foreach(i =>
            println(s"${i.name}\t${i.files}\t${i.bytes}\t${i.ownBytes}\t${i.createdMs}"))
        case "verify" =>
          require(args.length >= 3, "verify <storeRoot> <name>")
          val (nf, nb) = verify(spark, args(1), args(2))
          System.err.println(
            s"snapshot '${args(2)}' of ${args(1)} verified: $nf file(s), $nb byte(s)")
        case "delete" =>
          require(args.length >= 3, "delete <storeRoot> <name>")
          delete(spark, args(1), args(2))
          System.err.println(s"deleted snapshot '${args(2)}' of ${args(1)}")
        case "prune" =>
          val ki = args.indexOf("--keep")
          require(ki >= 0 && args.length > ki + 1, "prune <storeRoot> --keep <n>")
          val gone = prune(spark, args(1), args(ki + 1).toInt)
          System.err.println(s"pruned ${gone.size} snapshot(s) of ${args(1)}" +
            (if (gone.isEmpty) "" else s": ${gone.mkString(", ")}"))
        case other => throw new IllegalArgumentException(
          s"unknown subcommand '$other' (want snapshot|restore|list|verify|delete|prune)")
      }
    } finally spark.stop()
  }
}

/** Read-side operator loupe for the standing stores — the probe the e2e
  * gate and an on-call operator use to ORACLE a store from the CLI
  * (search parity across forget/compact/rebucket, masked corpus counts,
  * curation verdict totals) without writing a Spark job. Deterministic,
  * sorted, one result per stdout line; diagnostics go to stderr.
  *
  * Usage: graft.ProbeTool bm25 <path> <k> <query words...>
  *        graft.ProbeTool ivf <path> <k> <v1,v2,...> [nProbe]
  *        graft.ProbeTool packed <dir>
  *        graft.ProbeTool curation <stateDir>
  */
object ProbeTool {

  def probe(spark: org.apache.spark.sql.SparkSession, kind: String,
      args: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    kind.toLowerCase match {
      case "bm25" =>
        require(args.length >= 3, "bm25 <path> <k> <query words...>")
        val qs = Seq((0L, args.drop(2).mkString(" "))).toDF("query_id", "text")
        graft.streaming.StreamingBm25
          .search(spark, args(0), qs, k = args(1).toInt)
          .orderBy("rank")
          .select(col("rank"), col("doc_id"), format_number(col("score"), 4))
          .collect().map(r => s"${r.get(0)} ${r.get(1)} ${r.get(2)}").toSeq
      case "ivf" =>
        require(args.length >= 3, "ivf <path> <k> <v1,v2,...> [nProbe]")
        val vec = args(2).split(',').map(_.trim.toFloat).toSeq
        val qs = Seq((0L, vec)).toDF("vec_id", "embedding")
        graft.streaming.StreamingIvf
          .search(spark, args(0), qs, k = args(1).toInt,
            nProbe = args.lift(3).map(_.toInt).getOrElse(2))
          .orderBy("rank")
          .select(col("rank"), col("corpus_id"), format_number(col("cosine"), 4))
          .collect().map(r => s"${r.get(0)} ${r.get(1)} ${r.get(2)}").toSeq
      case "packed" =>
        require(args.nonEmpty, "packed <dir>")
        val rows = graft.sources.PackedCorpus.readAll(spark, args(0))
          .agg(count(lit(1)), coalesce(sum(size(col("token_ids"))), lit(0)),
            min("doc_id"), max("doc_id")).head()
        Seq(s"sequences=${rows.get(0)} tokens=${rows.get(1)} " +
          s"id_min=${rows.get(2)} id_max=${rows.get(3)}")
      case "curation" =>
        require(args.nonEmpty, "curation <stateDir>")
        graft.streaming.StreamingCuration.verdicts(spark, args(0))
          .groupBy("stage").agg(count(lit(1)).as("n"))
          .orderBy("stage")
          .collect().map(r => s"${r.get(0)}=${r.get(1)}").toSeq
      case other => throw new IllegalArgumentException(
        s"unknown store kind '$other' (want ivf|bm25|packed|curation)")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ProbeTool <ivf|bm25|packed|curation> <path> [...]")
    val spark = GraftSession.builder("graft-probe")
      .master(GraftSession.defaultMaster).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (kind, rest) = (args(0), args.toSeq.drop(2))
      probe(spark, kind, args(1) +: rest).foreach(println)
    } finally spark.stop()
  }
}
