package graft.streaming

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compaction for per-epoch at-rest state directories
  * ([[StreamingCuration]]'s `digests/batch=<n>`, [[StreamingIvf]]'s
  * `corpus/epoch=<n>/cell=<m>`): a standing pipeline accumulates one
  * subdirectory per micro-batch forever — thousands of tiny files whose
  * LISTING eventually costs more than the data. Compaction folds them into
  * ONE `<key>=-1` subdirectory; real epochs are ≥ 0, so the compacted
  * directory can never collide with a future epoch's idempotent overwrite.
  *
  * ALL filesystem access goes through the Hadoop `FileSystem` API resolved
  * from the directory's URI — the same channel the state itself is
  * written/read through — so `file://` (tests), `hdfs://` (production
  * at-rest state) and conf-registered object-store schemes share one code
  * path. An UNKNOWN scheme fails loudly at `FileSystem.get` ("No
  * FileSystem for scheme"), never silently no-ops; only a genuinely
  * missing or epoch-less directory is a no-op.
  *
  * Swap protocol (single-maintenance-writer, commit-marker form):
  *  1. write the compacted form into `<dir>.compacting` (reads from the
  *     still-intact `<dir>`);
  *  2. create the sibling marker `<dir>.compacting.COMMITTED` — the
  *     COMMIT POINT: from here the staging content is authoritative;
  *  3. promote: delete `<dir>`, then rename staging over it (atomic on
  *     HDFS and local) — or, on a FileSystem WITHOUT rename (object
  *     stores: S3 renames are copy+delete, never atomic — the
  *     S3SemanticsSinkSpec stance), byte-copy the staging directory into
  *     place and delete it;
  *  4. delete the marker.
  * A crash anywhere is finished by [[recover]] (called on every compact
  * entry): marker present ⇒ re-promote from staging (idempotent — a
  * partial `<dir>` is re-deleted and re-filled); marker present with
  * staging already consumed and `<dir>` in place ⇒ only the marker
  * cleanup remained; no marker ⇒ a partial staging directory is garbage
  * the next compact overwrites, `<dir>` was never touched. Run compaction
  * only while the pipeline is stopped (it rewrites the directory the next
  * epoch appends into).
  *
  * (The parquet rewrite inside [[compact]] additionally relies on Spark's
  * own output committer for the STAGING write — on an object store that
  * means deploying the store's job committer, e.g. the S3A magic
  * committer, exactly as every other parquet write in the pipeline
  * already does; the swap itself needs only create/delete/list.)
  */
object StateCompaction {

  /** Target size per compacted data file: salting splits any at-rest
    * partition larger than this across `ceil(bytes / target)` shuffle
    * keys, so one hot partition (a stop-word postings bucket, a mega IVF
    * cell) never compacts into one giant file. */
  val DefaultTargetFileBytes: Long = 128L << 20

  /** Fold every `<key>=<n>` subdirectory of `dir` into `<key>=-1`.
    * `partitionCols` are re-applied to the compacted write (e.g. `cell`
    * for the IVF corpus) so downstream partition pruning is preserved.
    * `transform` applies to the union before the rewrite — the hook a
    * store uses to fold its pending MUTATIONS into the maintenance pass
    * (e.g. [[StreamingIvf.compact]] dropping tombstoned rows).
    * No-op when `dir` does not exist or holds no subdirectories. */
  def compact(spark: SparkSession, dir: String, key: String,
      partitionCols: Seq[String] = Nil,
      targetFileBytes: Long = DefaultTargetFileBytes,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity,
      fence: () => Unit = () => ()): Unit =
    compactWith(spark, dir, fence) { staging =>
      stageCompacted(spark, dir, key, staging, partitionCols,
        targetFileBytes, transform)
    }

  /** The salted, partition-preserving epoch-fold REWRITE [[compact]]
    * wraps in its own swap — exposed so a COMPOUND store can stage
    * several relations under ONE swapped root and commit them together
    * ([[StreamingBm25.compact]] stages masked postings AND debited stats
    * under the store root: apply, debit, and tombstone-retire become a
    * single commit-marker promote). Writes `dir`'s fold into
    * `stagingTarget/<key>=-1`; no-op when `dir` is missing or epoch-less
    * (the relation is simply absent from the staged root, exactly as it
    * was absent from the live one). */
  def stageCompacted(spark: SparkSession, dir: String, key: String,
      stagingTarget: String, partitionCols: Seq[String] = Nil,
      targetFileBytes: Long = DefaultTargetFileBytes,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity): Unit = {
    val fs0 = fileSystem(spark, dir)
    val dirPath = new Path(dir)
    if (!fs0.exists(dirPath)) return
    if (!fs0.listStatus(dirPath).exists(_.isDirectory)) return
    {
      // partition discovery surfaces <key> (and any nested partition
      // cols); drop the epoch key, keep the data partition cols for the
      // rewrite. CONSOLIDATE while rewriting: without the repartition,
      // every (write task × partition value) pair emits its own file, so
      // compaction would replace many-epochs-of-small-files with
      // one-epoch-of-the-same-small-files — hash-clustering on the
      // partition cols lands each partition value in one task per SALT.
      // The salt splits any partition whose at-rest bytes exceed
      // targetFileBytes across ceil(bytes/target) shuffle keys (measured
      // from the pre-compaction listing, metadata only), so a hot
      // partition writes N right-sized files instead of one giant one;
      // healthy partitions keep salt 1 = exactly one file — the
      // listing-cost reduction compaction exists for. The shuffle is the
      // deliberate price of a maintenance op (run offline, pipeline
      // stopped).
      val df = transform(spark.read.parquet(dir).drop(key))
      val writer =
        (if (partitionCols.nonEmpty) {
           val salts = partitionSalts(
             fileSystem(spark, dir), new Path(dir), partitionCols.length,
             targetFileBytes)
           if (salts.valuesIterator.forall(_ <= 1L))
             // no oversized partition: hash-cluster on the partition cols
             // — one file per at-rest partition dir (AQE may coalesce the
             // tiny shuffle; the writer still splits by partition value)
             df.repartition(partitionCols.map(col): _*)
           else {
             // CONTIGUOUS-BUCKET salting: each partition dir owns the
             // bucket range [offset, offset+salt) — healthy dirs one
             // bucket, oversized dirs ceil(bytes/target) — and an EXPLICIT
             // repartitionByRange(totalBuckets) pins the task count (AQE
             // must not coalesce the salt away), landing ~one bucket per
             // task ⇒ ~one target-sized file per bucket. The lookup keys
             // by the RELATIVE partition path ("cell=3") rebuilt from the
             // columns; a value whose string form differs from its
             // directory encoding (hive-escaped strings, null →
             // __HIVE_DEFAULT_PARTITION__) misses the map and FAILS SAFE
             // to bucket 0 with salt 1 — partition values in graft's
             // at-rest state are integers, which round-trip exactly. Both
             // maps are partition-dir-bounded metadata (cells/buckets,
             // never rows).
             val sorted = salts.toSeq.sortBy(_._1)
             val offsets = sorted.scanLeft(0L)(_ + _._2).init
             val offsetOf = sorted.map(_._1).zip(offsets).toMap
             val total = salts.valuesIterator.sum
             val pkey = concat_ws("/", partitionCols.map(c =>
               concat(lit(c + "="), col(c).cast("string"))): _*)
             df.withColumn("__graft_bucket",
                 coalesce(element_at(typedLit(offsetOf), pkey), lit(0L)) +
                   pmod(xxhash64(df.columns.map(col): _*),
                     coalesce(element_at(typedLit(salts), pkey), lit(1L))))
               .repartitionByRange(total.toInt, col("__graft_bucket"))
               .drop("__graft_bucket")
           }
         } else df)
          .write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(s"$stagingTarget/$key=-1")
    }
  }

  /** The swap protocol with the compacted WRITE as a hook — for at-rest
    * state that is not parquet (e.g. [[graft.sources.PackedCorpus]]'s
    * `.bin`/`.idx` part pairs). `writeStaged` must write the full
    * compacted form UNDER the passed staging path (reading from the
    * still-intact `dir`); this then commits and promotes it over `dir`
    * with [[recover]]'s crash contract. No-op when `dir` has no
    * subdirectories. `fence` runs immediately BEFORE the commit marker is
    * created — the [[MaintenanceLease.verifyHeld]] hook: a maintenance
    * run whose stale lease was broken by a new writer throws here and
    * aborts with its staging still non-authoritative (garbage the next
    * compact clears), never after the commit point. */
  def compactWith(spark: SparkSession, dir: String,
      fence: () => Unit = () => ())(writeStaged: String => Unit): Unit = {
    val fs = fileSystem(spark, dir)
    recover(spark, dir)
    val dirPath = new Path(dir)
    if (!fs.exists(dirPath)) return
    if (!fs.listStatus(dirPath).exists(_.isDirectory)) return
    doSwap(fs, dir, fence)(writeStaged)
  }

  /** The commit-marker swap WITHOUT [[compactWith]]'s "live directory
    * exists and holds subdirectories" guards — for swaps whose staged
    * content does NOT derive from the live directory. A COMPACTION of a
    * missing/empty store is rightly a no-op (nothing to fold); a disaster
    * RESTORE of a destroyed store is exactly the case the restore exists
    * for, and routing it through the guards made it report success while
    * writing nothing (round-15 advisory on [[graft.SnapshotTool]]).
    * Promotes unconditionally: after `writeStaged` + `fence`, the staged
    * content replaces whatever (possibly nothing) lives at `dir`, with
    * [[recover]]'s crash contract. */
  def swapIn(spark: SparkSession, dir: String,
      fence: () => Unit = () => ())(writeStaged: String => Unit): Unit = {
    recover(spark, dir) // finish any torn prior swap before staging anew
    doSwap(fileSystem(spark, dir), dir, fence)(writeStaged)
  }

  private def doSwap(fs: FileSystem, dir: String,
      fence: () => Unit)(writeStaged: String => Unit): Unit = {
    val dirPath = new Path(dir)
    val staging = stagingPath(dir)
    val marker = markerPath(dir)
    // a stale partial staging (crash before the commit point) is garbage:
    // marker first, then the directory it guards
    fs.delete(marker, false)
    fs.delete(staging, true)
    writeStaged(staging.toString)
    // an all-empty compaction may write zero files — the swap still needs
    // the staging directory to exist for the promote
    if (!fs.exists(staging)) fs.mkdirs(staging)
    fence() // last exit before the commit point (lease fencing)
    fs.create(marker, true).close() // COMMIT POINT
    promote(fs, dirPath, staging, marker)
  }

  /** Finish an interrupted swap. Marker present ⇒ the staging write
    * committed: re-promote (idempotent), or — staging already consumed
    * with `dir` in place — just drop the orphaned marker; marker present
    * with BOTH sides missing is corrupt state and throws. The legacy
    * pre-marker crash shape (`dir` missing + complete staging sibling)
    * still promotes. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fileSystem(spark, dir)
    val dirPath = new Path(dir)
    val staging = stagingPath(dir)
    val marker = markerPath(dir)
    if (fs.exists(marker)) {
      if (fs.exists(staging)) promote(fs, dirPath, staging, marker)
      else if (fs.exists(dirPath)) fs.delete(marker, false)
      else throw new IllegalStateException(
        s"torn compaction swap at $dir: commit marker present but both " +
          "the directory and its staging sibling are missing")
    } else if (!fs.exists(dirPath) && fs.exists(staging)) {
      promote(fs, dirPath, staging, marker)
    }
  }

  /** Staging → live: delete the (possibly partial) live directory, then
    * rename the staging over it; a FileSystem without rename (object
    * stores) falls back to a byte copy + staging delete. Marker removal
    * is last — until then every crash re-enters here via [[recover]]. */
  private def promote(fs: FileSystem, dir: Path, staging: Path, marker: Path): Unit = {
    fs.delete(dir, true)
    val renamed =
      try fs.rename(staging, dir)
      catch { case _: UnsupportedOperationException => false }
    if (!renamed) {
      if (!FileUtil.copy(fs, staging, fs, dir, false, true, fs.getConf))
        throw new java.io.IOException(
          s"compaction promote failed: could neither rename nor copy $staging over $dir")
      fs.delete(staging, true)
    }
    fs.delete(marker, false)
  }

  /** Per-partition-directory salt counts: `ceil(bytes / targetFileBytes)`
    * with every partition dir present (healthy dirs at 1). Keys are
    * partition paths RELATIVE to the epoch directory ("cell=3"); sizes
    * sum data files across all epochs (metadata-only listing, never
    * data, bounded by the partition-dir count). */
  private def partitionSalts(fs: FileSystem, dir: Path,
      nPartitionCols: Int, targetFileBytes: Long): Map[String, Long] = {
    val base = dir.toUri.getPath.stripSuffix("/")
    val bytes = scala.collection.mutable.Map.empty[String, Long]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        val segs = rel.split('/')
        // <key>=<n> / <p1>=<v1> / ... / part-file
        if (segs.length >= nPartitionCols + 2) {
          val pdir = segs.slice(1, 1 + nPartitionCols).mkString("/")
          bytes(pdir) = bytes.getOrElse(pdir, 0L) + st.getLen
        }
      }
    }
    bytes.map { case (p, b) =>
      p -> math.max(1L, (b + targetFileBytes - 1) / targetFileBytes)
    }.toMap
  }

  private def stagingPath(dir: String) = new Path(dir + ".compacting")
  private def markerPath(dir: String) = new Path(dir + ".compacting.COMMITTED")

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new URI(dir), spark.sessionState.newHadoopConf())
}
