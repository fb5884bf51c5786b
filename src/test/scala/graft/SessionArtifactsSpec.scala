package graft

import java.nio.file.Files

import graft.operators.{BpeTrainer, Embeddings, TrackedCache, UnigramLm}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The [[TrackedCache]] session-artifact contract: every memoized
  * artifact is result-invisible (release, then recompute, gives
  * identical rows), release is the corpus boundary, and the per-session
  * FIFO bound evicts and unpersists the oldest entry.
  *
  * Each test runs in its own `newSession()`, so its entries and its
  * release never touch the shared session other suites use.
  */
class SessionArtifactsSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)

  test("getOrCompute: a hit skips the compute, release drops the entry") {
    val s = spark.newSession()
    var computes = 0
    def get() = TrackedCache.getOrCompute(s, "counter") {
      computes += 1; Seq(computes)
    }
    assert(get() == Seq(1) && get() == Seq(1) && computes == 1)
    TrackedCache.release(s)
    assert(get() == Seq(2) && computes == 2)
    // sessions do not share entries
    val other = spark.newSession()
    assert(TrackedCache.getOrCompute(other, "counter")(Seq(-1)) == Seq(-1))
    TrackedCache.release(s)
    TrackedCache.release(other)
  }

  test("computes nest: an artifact's compute may fill another entry") {
    val s = spark.newSession()
    val outer = TrackedCache.getOrCompute(s, "outer") {
      TrackedCache.getOrCompute(s, "inner")("inner-value") + "+outer"
    }
    assert(outer == "inner-value+outer")
    assert(TrackedCache.getOrCompute[String](s, "inner")(fail("inner not memoized")) ==
      "inner-value")
    TrackedCache.release(s)
  }

  test("bound: the 17th key evicts the oldest and unpersists its frame") {
    assert(TrackedCache.ArtifactCap == 16)
    val s = spark.newSession()
    def frame(i: Int) =
      s.range(4).select((col("id") + lit(i * 1000003L)).as("cap_probe"))
    val computed = scala.collection.mutable.ArrayBuffer.empty[Int]
    def get(i: Int) = TrackedCache.getOrCompute(s, ("cap", i)) {
      computed += i; TrackedCache.persist(frame(i))
    }
    val first = get(1)
    assert(first.storageLevel != StorageLevel.NONE)
    (2 to 16).foreach(get)
    assert(first.storageLevel != StorageLevel.NONE, "16 entries fit")
    get(17)
    assert(first.storageLevel == StorageLevel.NONE,
      "the evicted frame must be unpersisted")
    computed.clear()
    (2 to 17).foreach(get)
    assert(computed.isEmpty, "keys 2..17 survive the eviction")
    val again = get(1)
    assert(computed == Seq(1), "the evicted key recomputes")
    assert(!(again eq first) && rows(again) == rows(first))
    TrackedCache.release(s)
    assert(again.storageLevel == StorageLevel.NONE)
  }

  test("every memoized artifact: compute, release, recompute gives identical rows") {
    val s = spark.newSession()
    val docs = Tables.documents(s, sf)
    val emb = Tables.embeddings(s, sf)
    def semantic() = Embeddings.semanticDedup(emb,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding", 2, 0.3)
    def vocab() = UnigramLm.train(docs, "text", vocabSize = 40)
    val artifacts: Seq[(String, () => DataFrame)] = Seq(
      "bpe char merges" -> (() => BpeTrainer.bpeTrain(docs, "text", 8)),
      "bpe byte merges" -> (() => BpeTrainer.bpeTrainBytes(docs, "text", 8)),
      "unigram vocab" -> (() => vocab()),
      "unigram per-word stats" ->
        (() => UnigramLm.tokenStats(docs, "doc_id", "text", vocab())),
      "semanticDedup" -> (() => semantic()),
      "f7 components" -> (() => query("f7_dedup_components")(s, sf)),
      // i12 first: its compute fills the media-pairs entry i11 reads
      "i12 canonical" -> (() => query("i12_crossmodal_canonical")(s, sf)),
      "i11 media pairs" -> (() => query("i11_crossmodal_agreement")(s, sf)))
    val before = artifacts.map { case (n, f) => n -> rows(f()) }
    val memoSemantic = semantic()
    assert(semantic() eq memoSemantic, "a hit returns the published frame")
    TrackedCache.release(s)
    assert(!(semantic() eq memoSemantic), "release drops the entry")
    val after = artifacts.map { case (n, f) => n -> rows(f()) }
    before.zip(after).foreach { case ((n, b), (_, a)) =>
      assert(b.nonEmpty, s"$n: empty artifact proves nothing")
      assert(a == b, s"$n: rows changed across release")
    }
    TrackedCache.release(s)
  }

  test("release is the corpus boundary: f7 after an in-place rewrite reads the new corpus") {
    val s = spark.newSession()
    val tmp = Files.createTempDirectory("graft-artifacts").toFile
    try {
      val src = Tables.documents(s, sf)
      // corpus B = corpus A plus exact copies of five documents, so its
      // component labels contain pairs A's cannot
      val corpusB = src.unionByName(
        src.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 100000))
      val (dirA, dirB) = (s"$tmp/a", s"$tmp/b")
      src.write.parquet(s"$dirA/documents.parquet")
      corpusB.write.parquet(s"$dirB/documents.parquet")
      val f7 = query("f7_dedup_components")
      val onA = rows(f7(s, dirA))
      val freshB = rows(f7(s, dirB))
      assert(onA != freshB, "the two corpora must label differently")
      TrackedCache.release(s)
      corpusB.write.mode("overwrite").parquet(s"$dirA/documents.parquet")
      assert(rows(f7(s, dirA)) == freshB,
        "after release, a corpus rewritten in place must not serve the old labels")
    } finally {
      TrackedCache.release(s)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
  }
}
