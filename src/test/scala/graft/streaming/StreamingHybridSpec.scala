package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Round-15 verdict #3: a doc forgotten in ONE standing store must never
  * surface in the FUSED result through the other store's rank
  * contribution — the union of every constituent store's tombstones
  * masks every list before fusion, ranks preserved (gaps, not
  * re-ranks). */
class StreamingHybridSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def mkVec(i: Long): Seq[Float] =
    (0 until 4).map(j => (math.sin(i * 31 + j * 7) + 2.0).toFloat)

  test("unionTombstones unions per-store id columns (vec_id/doc_id) into one mask") {
    val bmDir = Files.createTempDirectory("graft-hyb-bm").toString + "/idx"
    val ivDir = Files.createTempDirectory("graft-hyb-iv").toString + "/idx"
    val stores = Seq("bm25" -> bmDir, "ivf" -> ivDir)
    // an empty pair of stores has no mask at all
    assert(StreamingHybrid.unionTombstones(spark, stores).isEmpty)
    StreamingBm25.deleteEpoch(Seq(5L, 7L).toDF("doc_id"), bmDir, 0L)
    StreamingIvf.deleteEpoch(Seq(7L, 9L).toDF("vec_id"), ivDir, 0L)
    val mask = StreamingHybrid.unionTombstones(spark, stores).get
    assert(mask.columns.toSeq == Seq("doc_id"))
    assert(mask.as[Long].collect().sorted.toSeq == Seq(5L, 7L, 9L))
  }

  test("the tombstone id column resolves by store KIND, not by guessing — an extra column cannot redirect the mask") {
    val bmDir = Files.createTempDirectory("graft-hyb-extra").toString + "/idx"
    // a tombstone relation that grew an audit column whose name sorts
    // FIRST — the round-15 "first column that isn't epoch/batch"
    // heuristic would have keyed the mask on it silently
    Seq((42L, 5L), (43L, 7L)).toDF("audit_seq", "doc_id")
      .coalesce(1).write.parquet(s"$bmDir/tombstones/epoch=0")
    val mask = StreamingHybrid.unionTombstones(spark, Seq("bm25" -> bmDir)).get
    assert(mask.as[Long].collect().sorted.toSeq == Seq(5L, 7L),
      "the mask must key on the kind's id column (doc_id)")
    // every kind resolves to its literal id column
    assert(StoreTombstones.idCol("ivf") == "vec_id")
    assert(StoreTombstones.idCol("bm25") == "doc_id")
    assert(StoreTombstones.idCol("packed") == "doc_id")
    assert(StoreTombstones.idCol("curation") == "id")
    assert(StoreTombstones.epochKey("curation") == "batch")
    assert(StoreTombstones.epochKey("ivf") == "epoch")
    intercept[IllegalArgumentException] { StoreTombstones.idCol("nope") }
  }

  test("maskAll drops union-masked ids from every list and PRESERVES surviving ranks") {
    val bmDir = Files.createTempDirectory("graft-hyb-m").toString + "/idx"
    StreamingBm25.deleteEpoch(Seq(2L).toDF("doc_id"), bmDir, 0L)
    val list = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val Seq(masked) = StreamingHybrid.maskAll(spark, Seq(list),
      Seq("bm25" -> bmDir))
    val rows = masked.orderBy("rank")
      .select("query_id", "doc_id", "rank") // anti-join fronts the key col
      .as[(Long, Long, Long)].collect().toSeq
    // doc 2 gone; docs 1 and 3 keep ranks 1 and 3 (a gap, not a re-rank:
    // re-ranking would silently promote whatever sat below the forgotten
    // doc for every caller between forget and compact)
    assert(rows == Seq((0L, 1L, 1L), (0L, 3L, 3L)))
  }

  test("a doc forgotten in the ivf store never surfaces in the fused result via the bm25 list") {
    val bmDir = Files.createTempDirectory("graft-hyb-f").toString + "/bm"
    val ivDir = Files.createTempDirectory("graft-hyb-f2").toString + "/iv"
    val docs = (0L until 30L)
      .map(i => (i, s"alpha beta gamma token$i")).toDF("doc_id", "text")
    StreamingBm25.appendEpoch(docs, bmDir, 0L, nBuckets = 4)
    val cents = (0 until 2).map(i => (i, mkVec(i * 50))).toDF("centroid_id", "centroid_vec")
    StreamingIvf.init(cents, ivDir)
    StreamingIvf.appendEpoch(
      (0L until 30L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
      ivDir, 0L)
    val qsText = Seq((0L, "alpha beta")).toDF("query_id", "text")
    val qsVec = Seq((0L, mkVec(0))).toDF("vec_id", "embedding")
    val pre = StreamingHybrid.rrfSearch(spark, bmDir, ivDir, qsText, qsVec,
      k = 5, topK = 10)
    val victim = pre.filter(col("rank") === 1).select("doc_id").head().getLong(0)
    // forget in the IVF store ONLY — the bm25 store still ranks the doc
    StreamingIvf.deleteEpoch(Seq(victim).toDF("vec_id"), ivDir, 1L)
    val bmIds = StreamingBm25.search(spark, bmDir, qsText, k = 5)
      .select("doc_id").as[Long].collect().toSet
    val post = StreamingHybrid.rrfSearch(spark, bmDir, ivDir, qsText, qsVec,
        k = 5, topK = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(!post.contains(victim),
      s"fused surface served a doc forgotten in the ivf store: $victim")
    // non-vacuous only if the bm25 list could have resurfaced it
    if (bmIds.contains(victim))
      assert(post.nonEmpty && !post.contains(victim))
    // weighted fusion applies the same mask
    val postW = StreamingHybrid.weightedSearch(spark, bmDir, ivDir, qsText,
        qsVec, k = 5, topK = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(!postW.contains(victim))
  }
}
