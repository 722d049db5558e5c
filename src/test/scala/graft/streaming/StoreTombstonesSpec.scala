package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.{ForgetTool, SparkTestBase}

/** Pins the at-rest delete format every standing store shares: for each
  * kind, the tombstones [[ForgetTool.forget]] and
  * [[ForgetLedger.reapplyInto]] write land at
  * `<root>/tombstones/<key>=<n>/` as ONE long column named for the kind,
  * both allocators skip reserved epochs, and a tombstone directory written
  * by a plain parquet write in that layout (what existing stores and
  * snapshots hold) masks the same ids. */
class StoreTombstonesSpec extends AnyFunSuite with SparkTestBase {

  private val layout = Seq(
    ("ivf", "vec_id", "epoch"),
    ("bm25", "doc_id", "epoch"),
    ("packed", "doc_id", "epoch"),
    ("curation", "id", "batch"))

  private def root(tag: String): String =
    Files.createTempDirectory(s"graft-tomb-$tag").toString + "/store"

  private def reserve(root: String, epoch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tombstones/.reserved-$epoch")
    p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, false).close()
  }

  /** The relation at one epoch directory: its (name, type) columns and ids. */
  private def epochDir(root: String, key: String, n: Long): (Seq[(String, Any)], Seq[Long]) = {
    val df = spark.read.parquet(s"$root/tombstones/$key=$n")
    (df.schema.fields.toSeq.map(f => (f.name, f.dataType)),
      df.collect().map(_.getLong(0)).toSeq.sorted)
  }

  private def survivors(kind: String, root: String): Seq[Long] = {
    import spark.implicits._
    StoreTombstones.mask((0L until 10L).toDF("k"), kind, root, "k")
      .as[Long].collect().toSeq.sorted
  }

  layout.foreach { case (kind, idCol, key) =>
    test(s"$kind: ForgetTool and reapplyInto write <root>/tombstones/$key=<n>/ as one long $idCol column, skipping reserved epochs") {
      val forgot = root(s"$kind-f")
      assert(ForgetTool.forget(spark, kind, forgot, Seq(3L, 5L)) == 0L)
      assert(epochDir(forgot, key, 0) == (Seq(idCol -> LongType), Seq(3L, 5L)))
      reserve(forgot, 1)
      assert(ForgetTool.forget(spark, kind, forgot, Seq(7L)) == 2L,
        "a standing reservation must never be reallocated")
      assert(epochDir(forgot, key, 2) == (Seq(idCol -> LongType), Seq(7L)))

      val staged = root(s"$kind-r")
      reserve(staged, 0)
      ForgetLedger.reapplyInto(spark, staged, Map(kind -> Seq(3L, 5L, 7L)))
      assert(epochDir(staged, key, 1) == (Seq(idCol -> LongType), Seq(3L, 5L, 7L)))

      assert(survivors(kind, forgot) == Seq(0L, 1L, 2L, 4L, 6L, 8L, 9L))
      assert(survivors(kind, staged) == survivors(kind, forgot))
    }

    test(s"$kind: a tombstone directory written by a plain parquet write in the $idCol/$key layout masks the same ids") {
      import spark.implicits._
      val plain = root(s"$kind-p")
      Seq(3L, 5L).toDF(idCol).coalesce(1).write.parquet(s"$plain/tombstones/$key=0")
      Seq(7L).toDF(idCol).coalesce(1).write.parquet(s"$plain/tombstones/$key=4")
      val forgot = root(s"$kind-q")
      ForgetTool.forget(spark, kind, forgot, Seq(3L, 5L, 7L))
      assert(survivors(kind, plain) == Seq(0L, 1L, 2L, 4L, 6L, 8L, 9L))
      assert(survivors(kind, plain) == survivors(kind, forgot))
      // the next allocation continues past the plain epochs
      assert(ForgetTool.forget(spark, kind, plain, Seq(9L)) == 5L)
    }
  }

  /** Forget id 3 in an empty `kind` store, compact it, then append ids
    * 0-5: a compact with no data to apply the tombstone to must keep it,
    * so the store never serves 3. `appendAndServe` appends and returns the
    * ids the store's own read serves. */
  private def deleteCompactAppend(kind: String, compact: String => Unit)(
      appendAndServe: String => Set[Long]): Unit = {
    val r = root(s"$kind-early")
    assert(ForgetTool.forget(spark, kind, r, Seq(3L)) == 0L)
    compact(r)
    assert(!StoreTombstones.retired(spark, r),
      s"$kind: a compact with no data to apply them to must keep the tombstones")
    assert(appendAndServe(r) == Set(0L, 1L, 2L, 4L, 5L))
  }

  private val early = (0L until 6L)

  test("ivf: an id deleted before the first append stays masked through a compact") {
    import spark.implicits._
    deleteCompactAppend("ivf", StreamingIvf.compact(spark, _)) { r =>
      val rows = early.map(i => (i, Seq(i.toFloat + 1f, 1f))).toDF("vec_id", "embedding")
      StreamingIvf.init(rows.filter($"vec_id" < 2).select($"vec_id".cast("int")
        .as("centroid_id"), $"embedding".as("centroid_vec")), r)
      StreamingIvf.appendEpoch(rows, r, 0L)
      // a probe id outside the corpus: search never returns the probe itself
      StreamingIvf.search(spark, r, rows.filter($"vec_id" === 0L)
          .withColumn("vec_id", org.apache.spark.sql.functions.lit(100L)), k = 10, nProbe = 2)
        .select("corpus_id").as[Long].collect().toSet
    }
  }

  test("bm25: an id deleted before the first append stays masked through a compact") {
    import spark.implicits._
    deleteCompactAppend("bm25", StreamingBm25.compact(spark, _)) { r =>
      StreamingBm25.appendEpoch(early.map(i => (i, "spark probe")).toDF("doc_id", "text"),
        r, 0L, nBuckets = 4)
      StreamingBm25.search(spark, r, Seq((100L, "spark")).toDF("query_id", "text"),
        k = 10, nBuckets = 4).select("doc_id").as[Long].collect().toSet
    }
  }

  test("packed: an id deleted before the first append stays masked through a compact") {
    import spark.implicits._
    deleteCompactAppend("packed", graft.sources.PackedCorpus.compact(spark, _)) { r =>
      graft.sources.PackedCorpus.writeEpoch(
        early.map(i => (i, Seq(i.toInt))).toDF("doc_id", "token_ids").coalesce(1), r, 0L)
      graft.sources.PackedCorpus.readAll(spark, r).select("doc_id").as[Long].collect().toSet
    }
  }

  test("curation: an id deleted before the first append stays masked through a compact") {
    import spark.implicits._
    deleteCompactAppend("curation", StreamingCuration.compactState(spark, _)) { r =>
      // the verdict relation StreamingCuration.run writes for batch 0
      early.map(i => (i, "kept", 0L)).toDF("doc_id", "stage", "shard")
        .write.parquet(s"$r/verdicts/batch=0")
      StreamingCuration.verdicts(spark, r).select("doc_id").as[Long].collect().toSet
    }
  }

  test("packed: a plain-written tombstone directory masks readAll, and compact retires it") {
    import spark.implicits._
    val dir = root("packed-read")
    graft.sources.PackedCorpus.writeEpoch(
      (0L until 6L).map(i => (i, Seq(i.toInt))).toDF("doc_id", "token_ids")
        .coalesce(1), dir, 0L)
    Seq(1L, 4L).toDF("doc_id").coalesce(1).write.parquet(s"$dir/tombstones/epoch=0")
    reserve(dir, 1)
    assert(graft.sources.PackedCorpus.readAll(spark, dir).select("doc_id")
      .as[Long].collect().toSet == Set(0L, 2L, 3L, 5L))
    assert(!StoreTombstones.retired(spark, dir))
    graft.sources.PackedCorpus.compact(spark, dir)
    assert(StoreTombstones.retired(spark, dir))
    assert(graft.sources.PackedCorpus.readAll(spark, dir).select("doc_id")
      .as[Long].collect().toSet == Set(0L, 2L, 3L, 5L))
  }
}
