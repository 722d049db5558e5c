package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE owner of the standing stores' at-rest DELETE format — the
  * right-to-be-forgotten tombstone store that [[StreamingIvf]],
  * [[StreamingBm25]], [[StreamingCuration]], [[graft.sources.PackedCorpus]],
  * [[StreamingHybrid]], [[ForgetLedger]] and [[graft.ForgetTool]] all read
  * and write through.
  *
  * Layout: `<root>/tombstones/<key>=<n>/` holds one parquet relation with
  * ONE long column named for the store kind:
  *
  * | kind     | id column | epoch key |
  * |----------|-----------|-----------|
  * | ivf      | `vec_id`  | `epoch`   |
  * | bm25     | `doc_id`  | `epoch`   |
  * | packed   | `doc_id`  | `epoch`   |
  * | curation | `id`      | `batch`   |
  *
  * The id column is resolved by KIND, never guessed from a relation's
  * columns (the "first column that isn't epoch/batch" heuristic broke
  * silently the moment a tombstone relation grew an extra column).
  *
  * Epochs are allocated COLLISION-PROOF by [[nextEpoch]]: a list-max+1
  * is a non-atomic read-then-write, so two concurrent forgets would
  * compute the same epoch and `mode("overwrite")` each other's delete
  * set. Each candidate is instead RESERVED by an atomic exclusive create
  * of a `.reserved-<n>` dot-file; a loser of the race moves to the next
  * number. Dot-files are invisible to [[ids]], so a reservation whose
  * delete set never landed (a crash between reserve and write) reads as
  * no tombstone, and [[retire]] removes reservations with the store.
  *
  * Each store keeps its OWN crash ordering around these calls: BM25
  * applies, debits and retires in one root swap (the tombstones are
  * simply not restaged), packed's whole-directory swap retires them with
  * the rewrite, IVF's refit swaps them away with the root, and IVF's
  * compact and curation's `compactState` call [[retire]] after their
  * swaps (re-applying a tombstone whose rows are gone is a no-op, so a
  * crash in between loses nothing). */
object StoreTombstones {

  private final case class Format(idCol: String, epochKey: String)

  private def format(kind: String): Format = kind.toLowerCase match {
    case "ivf" => Format("vec_id", "epoch")
    case "bm25" | "packed" => Format("doc_id", "epoch")
    case "curation" => Format("id", "batch")
    case other => throw new IllegalArgumentException(
      s"unknown store kind '$other' (want ivf|bm25|packed|curation)")
  }

  /** The id column `kind`'s tombstone relation keys on. */
  def idCol(kind: String): String = format(kind).idCol

  /** The partition key `kind`'s tombstone epochs land under (`epoch` for
    * the index stores, `batch` for the curation state — each store's own
    * epoch vocabulary). */
  def epochKey(kind: String): String = format(kind).epochKey

  private val EpochDir = "(?:epoch|batch)=(-?\\d+)".r
  private val Reservation = "\\.reserved-(\\d+)".r

  private def dir(root: String): Path = new Path(s"${root.stripSuffix("/")}/tombstones")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Reserve and return the next free tombstone epoch under `root`: one
    * past every written epoch and every standing reservation. */
  def nextEpoch(spark: SparkSession, root: String): Long = {
    val d = dir(root)
    val f = fs(spark, d)
    f.mkdirs(d)
    var e = f.listStatus(d).map(_.getPath.getName).collect {
      case EpochDir(n) => n.toLong
      case Reservation(n) => n.toLong
    }.foldLeft(-1L)(math.max) + 1L
    while (!tryReserve(f, d, e)) e += 1L
    e
  }

  private def tryReserve(f: FileSystem, d: Path, epoch: Long): Boolean = {
    val rp = new Path(d, s".reserved-$epoch")
    if (f.exists(rp)) false
    else try {
      // exclusive create: atomic on local/HDFS — exactly one racer wins;
      // any other IO failure propagates (a swallow-and-retry here would
      // spin forever on a persistently failing filesystem)
      f.create(rp, false).close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** Write `ids(idCol)` as `kind`'s tombstone epoch `epoch` under `root`
    * (cast to long, distinct, one file; idempotent overwrite). The write
    * runs under [[MaintenanceLease.withEpochWriteIntent]] over
    * `intentRoots` — the directories the store's maintenance swaps — so it
    * refuses during a swap instead of being retired unapplied by the
    * promote. Empty `intentRoots` writes unguarded: only for a STAGED root
    * that is not live yet ([[ForgetLedger.reapplyInto]]). */
  def write(ids: DataFrame, kind: String, root: String, epoch: Long,
      idCol: String, intentRoots: Seq[String]): Unit = {
    val f = format(kind)
    def body(): Unit =
      ids.select(col(idCol).cast("long").as(f.idCol)).distinct()
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${dir(root)}/${f.epochKey}=$epoch")
    if (intentRoots.isEmpty) body()
    else MaintenanceLease.withEpochWriteIntent(ids.sparkSession, root, intentRoots)(body())
  }

  /** True when the tombstone directory holds a non-hidden entry — a
    * directory holding only reservation dot-files reads as no tombstones,
    * never as a data-less parquet read. */
  private def visible(spark: SparkSession, root: String): Boolean = {
    val d = dir(root)
    val f = fs(spark, d)
    f.exists(d) && f.listStatus(d).exists { st =>
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
  }

  /** The distinct union of the listed `(kind, root)` stores' visible
    * tombstone ids, each kind's id column cast to long and named `as`;
    * `None` when no store has a visible delete epoch. */
  def ids(spark: SparkSession, stores: Seq[(String, String)],
      as: String): Option[DataFrame] =
    stores.collect { case (kind, root) if visible(spark, root) =>
      spark.read.parquet(dir(root).toString).select(col(idCol(kind)).cast("long").as(as))
    }.reduceOption(_ unionByName _).map(_.distinct())

  /** Drop `df`'s rows whose `key` is in `ids` — a broadcast anti-join
    * (the delete set is tiny next to any store it masks). */
  def mask(df: DataFrame, ids: Option[DataFrame], key: String): DataFrame =
    ids.fold(df)(t => df.join(broadcast(t), Seq(key), "left_anti"))

  /** Mask `kind`'s tombstones at `root` out of `df` on its `key` column
    * (e.g. `corpus_id` for the IVF probe scan). */
  def mask(df: DataFrame, kind: String, root: String, key: String): DataFrame =
    mask(df, ids(df.sparkSession, Seq(kind -> root), key), key)

  /** Delete the whole tombstone store under `root`, reservations
    * included — called once the store's compact has applied it, which
    * needs data to apply it to ([[StateCompaction.holdsEpochs]]). */
  def retire(spark: SparkSession, root: String): Unit = {
    val d = dir(root)
    fs(spark, d).delete(d, true)
    ()
  }

  /** True when `root` holds no tombstone directory at all — the state a
    * compact leaves behind. */
  def retired(spark: SparkSession, root: String): Boolean = {
    val d = dir(root)
    !fs(spark, d).exists(d)
  }
}
