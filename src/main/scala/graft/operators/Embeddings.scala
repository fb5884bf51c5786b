package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** G-group similarity search + F5 embedding near-dup (SURVEY §2).
  *
  * Scale notes: brute force is O(|Q|·N) — right for small fixed query
  * sets (queries broadcast, one pass over the corpus, no shuffle of
  * the big side). The all-pairs path goes through deterministic
  * random-hyperplane LSH buckets so work is Σ bucket² ≪ N²; the
  * hyperplanes are derived from md5 (VectorFunctions.hyperplane), so
  * there is no driver-side randomness and any engine reproduces the
  * same buckets.
  */
object Embeddings {

  /** Exact cosine top-k of each query vector against the corpus. */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cos")
  }

  /** Corpus with its LSH bucket id attached. */
  def withBucket(df: DataFrame, vecCol: String, planes: Int, dim: Int): DataFrame =
    df.withColumn("bucket", VectorFunctions.lshBucket(col(vecCol), planes, dim))

  /** ANN: restrict candidates to the query's bucket, then exact
    * cosine rerank top-k inside it.
    */
  def annLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, planes: Int, dim: Int, k: Int): DataFrame = {
    val c = withBucket(corpus, vecCol, planes, dim)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"), col("bucket"))
    val q = withBucket(queries, vecCol, planes, dim)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"), col("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "bucket", "cos")
  }

  /** IVF-style coarse quantization: assign every vector to its
    * nearest centroid by cosine (ties broken on centroid id). The
    * centroid set plays the role of a trained k-means codebook — here
    * a deterministic subset of the corpus so results are
    * engine-reproducible; swap in trained centroids in production.
    * Search probes only the query's cell (nprobe=1): work drops from
    * O(N) per query to O(N/k).
    */
  def ivfAssign(df: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String): DataFrame = {
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cvec_q"))
    // Group on the id alone (8-byte aggregate keys, not the 64-float
    // vector); every non-key column is constant within its group (the
    // group is one source row × k broadcast centroids), so `first` is
    // deterministic and just carries it through.
    val carried = df.columns.filterNot(_ == idCol)
      .map(o => first(col(o)).as(o))
    val aggs = carried :+ max_by(col("centroid_id"),
      struct(col("ccos"), -col("centroid_id"))).as("cell")
    df.crossJoin(broadcast(c))
      .withColumn("ccos", VectorFunctions.cosineSim(col(vecCol), col("cvec_q")))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Multi-probe ANN: each query additionally probes the `planes`
    * buckets at Hamming distance 1 from its own (one sign bit
    * flipped) — the standard recall fix for LSH's bucket-boundary
    * cliff, at (planes+1)× the candidate probes instead of more
    * tables. Corpus rows keep their single bucket, so a candidate can
    * match a query at most once (no dedup needed); the probe fan-out
    * multiplies only the tiny broadcast query side, never the corpus.
    */
  def annLshMultiProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, planes: Int, dim: Int, k: Int): DataFrame = {
    val c = withBucket(corpus, vecCol, planes, dim)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"), col("bucket"))
    val q = withBucket(queries, vecCol, planes, dim)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        explode(array(col("bucket") +: (0 until planes).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cos")
  }

  /** ANN via IVF cells: candidates share the query's cell, exact
    * cosine rerank top-k.
    */
  def annIvf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"), col("cell"))
    val q = ivfAssign(queries, centroids, idCol, vecCol)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"), col("cell"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cell", "cos")
  }

  /** IVF with multi-cell probing (`nprobe` > 1): the CORPUS keeps one
    * cell per vector (the index layout is unchanged); each QUERY
    * probes its `nprobe` nearest cells. Fixes the cell-boundary
    * recall cliff the same way G2b does for LSH — fan-out multiplies
    * only the tiny broadcast query side; per-query work is
    * O(nprobe·N/k) instead of O(N).
    */
  def annIvfMultiProbe(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val c = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"), col("cell"))
    val cent = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("cvec_q"))
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", VectorFunctions.cosineSim(col("qvec"), col("cvec_q")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qvec"), col("centroid_id").as("cell"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cos")
  }

  /** IVF ANN over a literal codebook: cell assignment is a pure
    * row-local fold (VectorFunctions.ivfCellFold) — no ×k row
    * expansion, no aggregation, no sort anywhere before the final
    * per-query rerank. This is the assignment shape a 100 TB corpus
    * wants; ivfAssign (DataFrame centroids) remains for codebooks
    * that only exist as distributed data.
    */
  def annIvfFold(corpus: DataFrame, queries: DataFrame, codebook: Seq[Array[Double]],
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val cell = VectorFunctions.ivfCellFold(col(vecCol), codebook)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"), cell.as("cell"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"), cell.as("cell"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cell", "cos")
  }

  /** Product-quantization ANN (the PQ half of IVF-PQ — the technique
    * that makes billion-vector indexes fit in memory): corpus vectors
    * encode ROW-LOCALLY to `mSub` codes (argmin-l2 codeword per
    * subvector; 4-bit codes turn 256 B of floats into 2 B), queries
    * score candidates by asymmetric distance (exact query subvector
    * vs the candidate's codeword), and the ADC top-`rerank` set gets
    * an exact cosine rerank. Encoding adds nothing to the shuffle
    * plan — it's a fold in the projection; scoring is the brute-force
    * pass made cheap (mSub codeword lookups instead of a dim-length
    * dot product). Production composes this with IVF cells ([[annIvf]]
    * / [[annIvfFold]]) so ADC only scans the probed cells; here it
    * scans the corpus so the oracle can check every score.
    */
  def annPqAdc(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, mSub: Int, k: Int, subDim: Int,
               topK: Int, rerank: Int): DataFrame =
    annPqAdcWith(corpus, queries,
      (0 until mSub).map(m => VectorFunctions.pqCodebook(m, k, subDim)),
      idCol, vecCol, subDim, topK, rerank)

  /** [[annPqAdc]] over EXPLICIT per-subvector codebooks — the trained
    * half of the PQ seam: feed [[trainPqCodebooks]] output and the
    * encode/ADC/rerank plan is unchanged (codebooks are literals
    * either way, so nothing new shuffles or broadcasts).
    */
  def annPqAdcWith(corpus: DataFrame, queries: DataFrame,
                   cbs: Seq[Seq[Array[Double]]], idCol: String,
                   vecCol: String, subDim: Int,
                   topK: Int, rerank: Int): DataFrame = {
    val codes = array(cbs.zipWithIndex.map { case (cb, m) =>
      VectorFunctions.pqSubCodeFrom(col(vecCol), cb, m, subDim)
    }: _*)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      codes.as("codes"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("adist",
        VectorFunctions.pqAdcDistFrom(col("qvec"), col("codes"), cbs, subDim))
    val aw = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    val cand = scored.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= rerank)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid", "adist", "cos")
  }

  /** Per-subvector PQ codebook training: `mSub` independent k-means
    * problems (same deterministic seeding and decimal-exact means as
    * G5, so any engine reproduces the same codewords), trained
    * TOGETHER in one unioned frame keyed by subvector index — each
    * iteration is ONE assignment pass and ONE update aggregation for
    * all mSub subquantizers, not mSub separate job chains (at 100 TB
    * that is 1 corpus scan per iteration instead of mSub; locally it
    * cuts the driver job count ~mSub×). Per-(m) centroids reach rows
    * through a broadcast join on the mSub-row packed frame;
    * assignment is the native argmin kernel; updates aggregate per
    * (m, cluster, dim) — the shuffle carries mSub·k·subDim partials.
    * The collected result is mSub·k·subDim doubles — codebook-sized,
    * never corpus-sized. A cluster that loses all members drops out
    * of its codebook (fewer codewords, indices still dense via
    * cluster-sorted collection) — identically in any engine
    * replaying the same arithmetic (the g7c oracle replays the
    * trainings independently and matches, proving the grouped run
    * changes nothing).
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                       mSub: Int, k: Int, subDim: Int,
                       iters: Int): Seq[Seq[Array[Double]]] = {
    require(iters >= 1, s"trainPqCodebooks needs iters >= 1, got $iters")
    // r16: persist — `subs` feeds the seed AND every Lloyd iteration
    // (2 evaluations per call before), and the whole final frame is
    // plan-keyed so g7c/g8/g16's identical PQ training executes once
    // per session (see kmeansCentroids)
    val base = ScaleOps.spread(df.select(col(idCol), col(vecCol)))
    val subs = TrackedCache.persist((0 until mSub).map { m =>
      base.select(lit(m).as("__m"), col(idCol).as("__id"),
        slice(col(vecCol), m * subDim + 1, subDim).as("__sub"))
    }.reduce(_ unionByName _))
    // cluster is cast to long in the seed so the iters==1 collect path
    // (which returns the raw seed frame) has the same column type as
    // the post-aggregation path.
    var cent = subs.filter(col("__id") < k)
      .select(col("__m"), col("__id").cast("long").as("cluster"),
        transform(col("__sub"), x => x.cast("double")).as("cv"))
    for (_ <- 1 until iters) {
      val packed = cent.groupBy("__m")
        .agg(sort_array(collect_list(struct(col("cluster"), col("cv")))).as("cents"))
        .select(col("__m"),
          transform(col("cents"), s => s.getField("cluster")).as("__cls"),
          transform(col("cents"), s => s.getField("cv")).as("__cvs"))
      val assigned = subs.join(broadcast(packed), "__m")
        .withColumn("__am", VectorFunctions.argminL2(col("__sub"), col("__cvs")))
        .select(col("__m"),
          when(col("__am.j") >= 0, element_at(col("__cls"), col("__am.j") + 1))
            .otherwise(lit(-1L)).as("cluster"),
          col("__sub"))
      cent = assigned
        .filter(col("cluster") >= 0) // argmin j=-1 (degenerate sub-vector) must not mint a phantom cluster
        .select(col("__m"), col("cluster"),
          posexplode(col("__sub")).as(Seq("dim", "x")))
        .groupBy("__m", "cluster", "dim")
        .agg((sum(col("x").cast("double").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("mx"))
        .groupBy("__m", "cluster")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          p => p.getField("mx")).as("cv"))
    }
    val rows = TrackedCache.persist(
      cent.select(col("__m"), col("cluster"), col("cv"))).collect()
    (0 until mSub).map { m =>
      rows.filter(_.getInt(0) == m).sortBy(_.getLong(1))
        .map(_.getSeq[Double](2).toArray).toSeq
    }
  }

  /** IVF × PQ composed — the billion-vector serving shape. The corpus
    * index is built entirely row-locally (one projection pass: fold-
    * assigned coarse cell + mSub PQ codes per vector — nothing
    * shuffles, nothing expands); each query probes its `nprobe`
    * nearest coarse cells ([[graft.functions.VectorFunctions.ivfProbeCells]],
    * fan-out on the tiny broadcast side only), ADC-scores ONLY the
    * probed cells' codes, and exact-cosine reranks the ADC top-
    * `rerank`. Per-query candidate work is O(nprobe·N/cells) codeword
    * lookups instead of [[annPqAdc]]'s O(N) full scan — the missing
    * composition between [[annIvfFold]] (cells, exact distances) and
    * [[annPqAdc]] (full scan, compressed distances). A corpus row has
    * ONE cell and query probe cells are distinct, so no candidate
    * dedup is needed.
    */
  def annIvfPq(corpus: DataFrame, queries: DataFrame, coarse: Seq[Array[Double]],
               idCol: String, vecCol: String, mSub: Int, kCw: Int, subDim: Int,
               nprobe: Int, rerank: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val codes = array((0 until mSub).map(m =>
      VectorFunctions.pqSubCode(col(vecCol), m, kCw, subDim)): _*)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      VectorFunctions.ivfCellFold(col(vecCol), coarse).as("cell"),
      codes.as("codes"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      explode(VectorFunctions.ivfProbeCells(col(vecCol), coarse, nprobe)).as("cell"))
    val scored = c.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("adist",
        VectorFunctions.pqAdcDist(col("qvec"), col("codes"), mSub, kCw, subDim))
    val aw = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    val cand = scored.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= rerank)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cell", "adist", "cos")
  }

  /** G9: int8 scalar-quantization ANN — the THIRD quantization family
    * (after hyperplane LSH and PQ), and the one production serves
    * most often because it is transform-free: each vector stores one
    * double `amax` plus its dims as signed bytes (4× smaller than
    * float32; for a 100 TB float corpus the scan-side index drops to
    * ~25 TB and the per-candidate score loop reads bytes, not
    * floats). Quantization is per-vector symmetric: scale =
    * 127/max|v_i|, code_i = floor(v_i·scale + 0.5) ∈ [−127,127]
    * (`floor(x+0.5)` spelled identically in both engines — ties
    * round toward +∞, unambiguous where `round()`'s half-away/
    * half-even dialects differ). Candidates are scored by exact
    * cosine against the RECONSTRUCTED vector ((code·amax)/127 —
    * parenthesization fixed, one multiply then one divide), then the
    * top-`rerank` get the true-vector cosine rerank, so quantization
    * error costs recall, never correctness of the final ordering.
    * An all-zero vector (amax = 0) keeps all-zero codes and scores
    * asim = −2 (below any cosine) instead of raising ANSI
    * DIVIDE_BY_ZERO on the zero reconstruction norm.
    */
  def annSqInt8(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, rerank: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val amax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val c = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"), amax.as("amax"))
      .withColumn("codes", when(col("amax") > 0,
          transform(col("cvec"), x =>
            floor(x.cast("double") * (lit(127.0) / col("amax")) + lit(0.5))
              .cast("tinyint")))
        .otherwise(transform(col("cvec"), _ => lit(0).cast("tinyint"))))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    // score from the BYTES via the fused decode-and-dot kernel
    // (bit-identical to cosineSim against the `transform`
    // reconstruction — SqInt8Spec pins the equivalence)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("asim", when(col("amax") > 0,
          VectorFunctions.sqCosine(col("qvec"), col("codes"), col("amax")))
        .otherwise(lit(-2.0)))
    val aw = Window.partitionBy(col("qid")).orderBy(col("asim").desc, col("cid"))
    val cand = scored.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= rerank)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "asim", "cos")
  }

  /** 1-bit binary-quantization code of a 64-dim vector: bit i is the
    * SIGN of dimension i (set iff v[i] > 0) — the simplest member of
    * the binary-quantization family (the sign-code special case of
    * random-hyperplane LSH where the hyperplanes are the standard
    * basis). 64 float dims compress 32× (256 B → 8 B); the Hamming
    * distance between two codes counts sign disagreements — a proxy
    * for angular distance good enough to screen candidates for exact
    * rerank. Row-local via the K20 [[graft.functions.SignCode64]]
    * kernel (one compiled loop per vector); no data movement, no
    * trained state.
    */
  def signCode64(vecCol: Column): Column =
    VectorFunctions.signCode64(vecCol)

  /** The composed HOF spelling of [[signCode64]] (64-term CASE-WHEN
    * OR tree) — kernel-equivalence spec reference, and the measured
    * slow path: inside G10's join stage the generated method is big
    * enough to trip codegen splitting/fallback (~5× end-to-end at
    * 200k vectors).
    */
  def signCode64Composed(vecCol: Column): Column =
    (0 until 64).map { i =>
      when(element_at(vecCol, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** ANN via 1-bit binary quantization (G10): Hamming screen on the
    * 8-byte sign codes (cheap: one xor + popcount per candidate —
    * ~64× less arithmetic than a float cosine), exact cosine rerank
    * of the top-`rerank` per query. Same serving shape as
    * [[annSqInt8]]: queries broadcast, one corpus pass, the full
    * float vector is only touched for the rerank sliver. Ties in the
    * screen break on cid — deterministic across engines.
    */
  /** Dimension-prefix screened ANN — the Matryoshka-representation
    * serving pattern (Kusupati et al. 2022, "adaptive retrieval"):
    * coarse-score every candidate by cosine over the FIRST
    * `prefixDims` dimensions only (¼ of the scan arithmetic at
    * 16/64), shortlist the top-`rerank` per query, exact full-dim
    * cosine on the shortlist. The FIFTH serving family next to the
    * quantized ones (LSH/PQ/SQ/BQ) — and unlike those, the screen is
    * exact float arithmetic over a prefix, so the whole path is
    * bit-exactly oracle-able with zero trained state. Screen ties
    * break on cid, deterministic cross-engine.
    */
  def annDimPrefix(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, prefixDims: Int, rerank: Int,
                   k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      slice(col(vecCol), 1, prefixDims).as("cpre"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      slice(col(vecCol), 1, prefixDims).as("qpre"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("s_pre", VectorFunctions.cosineSim(col("qpre"), col("cpre")))
    val aw = Window.partitionBy(col("qid")).orderBy(col("s_pre").desc, col("cid"))
    val cand = scored.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= rerank)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cos")
  }

  /** Johnson–Lindenstrauss compressed serving: coarse-score in the
    * d'=`dOut` sign-projected space ([[graft.functions.VectorFunctions.jlProject]],
    * Achlioptas 2003), exact-rerank the top `rerank` in the original
    * space — the published embedding-compression lever next to
    * dim-prefix (g11) and int8/binary quantization. Same shape as
    * [[annDimPrefix]]: the projection is row-local (computed once per
    * row in the scan), the coarse pass touches dOut/dim of the float
    * math, and at corpus scale the projected vectors are the ones a
    * serving index stores (4× memory cut at dOut=16, dim=64).
    */
  def annJl(corpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, dOut: Int, dim: Int, rerank: Int,
            k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      VectorFunctions.jlProject(col(vecCol), dOut, dim).as("cproj"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      VectorFunctions.jlProject(col(vecCol), dOut, dim).as("qproj"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("s_proj", VectorFunctions.cosineSim(col("qproj"), col("cproj")))
    val aw = Window.partitionBy(col("qid")).orderBy(col("s_proj").desc, col("cid"))
    val cand = scored.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= rerank)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "cos")
  }

  def annBinary(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, rerank: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      signCode64(col(vecCol)).as("ccode"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      signCode64(col(vecCol)).as("qcode"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("hamming",
        expr("CAST(bit_count(ccode ^ qcode) AS INT)"))
    val aw = Window.partitionBy(col("qid")).orderBy(col("hamming"), col("cid"))
    val cand = scored.withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= rerank)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "hamming", "cos")
  }

  /** The scale path of [[annBinary]]: NO corpus×queries cross join.
    * The sign codes are banded 4×16 bits ([[Dedup.hammingBandPairs]]'s
    * layout); a query probes its 4 band buckets and candidates are
    * codes agreeing on ≥1 FULL band — pigeonhole-lossless for
    * Hamming ≤ 3, probabilistic above (the F4b/I4 contract). Work is
    * bucket-collision volume, not |Q|·N; the banded corpus index is
    * the materialization a production serving path would persist
    * (8-byte code + 4 band rows per vector). Survivors within
    * `maxHamming` get the exact cosine rerank top-`k`.
    */
  def annBinaryBanded(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, maxHamming: Int, k: Int): DataFrame = {
    require(maxHamming <= 3, "4 16-bit bands are only lossless for Hamming radius <= 3")
    import graft.functions.VectorFunctions
    def banded(df: DataFrame, id: String, vec: String, code: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          signCode64(col(vecCol)).as(code))
        .select(col(id), col(vec), col(code),
          explode(array((0 until 4).map { b =>
            struct(lit(b).as("band"),
              shiftright(col(code), b * 16).bitwiseAND(lit(65535L)).as("bv"))
          }: _*)).as("bb"))
        .select(col(id), col(vec), col(code),
          col("bb.band").as("band"), col("bb.bv").as("bv"))
    val c = banded(corpus, "cid", "cvec", "ccode")
    val q = banded(queries, "qid", "qvec", "qcode")
    val cand = c.join(broadcast(q), Seq("band", "bv"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid", "qvec", "cvec", "qcode", "ccode")
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("hamming",
        expr("CAST(bit_count(ccode ^ qcode) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid", "hamming", "n_bands", "cos")
  }

  /** Recall@k report of the fully-TRAINED IVF-PQ serving path
    * ([[kmeansCentroids]] coarse + [[trainPqCodebooks]] PQ) against
    * the [[knnBruteForce]] ground truth, at each probe width in
    * `nprobes` — THE number a user reads to pick nprobe/cells for a
    * recall target. The index (cell + PQ codes per corpus vector) is
    * built ONCE — one row-local projection, persisted — and each
    * probe width re-joins it exactly as production would re-query an
    * index; only the tiny query fan-out differs per width. The exact-
    * rerank budget scales WITH the probe width (`rerankPerProbe` ×
    * nprobe) — the production pairing: a FIXED budget makes recall
    * non-monotone in nprobe (measured 0.51→0.43 on this corpus going
    * 1→8 probes at rerank=20), because widening the pool floods a
    * constant-size ADC cut with false positives from foreign cells
    * while the cell restriction itself was filtering for true
    * neighbors. Recall is |ANN top-k ∩ exact top-k| / |exact top-k|
    * over the whole query set; a probe width with zero hits drops
    * out of the report (both engines aggregate the same empty group
    * away).
    */
  def recallReport(corpus: DataFrame, queries: DataFrame,
                   coarse: Seq[Array[Double]], cbs: Seq[Seq[Array[Double]]],
                   idCol: String, vecCol: String, subDim: Int,
                   nprobes: Seq[Int], rerankPerProbe: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val (perNp, truth) = probedTopk(corpus, queries, coarse, cbs, idCol,
      vecCol, subDim, nprobes, rerankPerProbe, k)
    val totals = truth.agg(count(lit(1)).as("n_truth"))
    perNp.join(truth, Seq("qid", "cid"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(totals))
      .withColumn("recall",
        // tie-stable 4-dp (not round(x, 4)): the fraction is an exact
        // integer ratio today, but one corpus change away from a
        // ten-thousandth tie the two engines round apart (h7 class)
        VectorFunctions.quantize(
          col("n_hits").cast("double") / col("n_truth"), 4))
      .select("nprobe", "n_hits", "recall")
  }

  /** The g8/g16 shared construction: per probe width, the ANN top-k
    * (index built once, persisted; each width re-joins it exactly as
    * production would) with the PRE-rerank candidate count carried
    * per (nprobe, qid, cid) row set — plus the brute-force truth.
    * Returns (topk rows tagged (nprobe, qid, cid, n_cand), truth).
    */
  private def probedTopk(corpus: DataFrame, queries: DataFrame,
                         coarse: Seq[Array[Double]],
                         cbs: Seq[Seq[Array[Double]]],
                         idCol: String, vecCol: String, subDim: Int,
                         nprobes: Seq[Int], rerankPerProbe: Int, k: Int)
      : (DataFrame, DataFrame) = {
    require(nprobes.distinct.size == nprobes.size,
      s"duplicate probe widths in $nprobes: the per-width union would " +
        "double-count n_hits while candTotals' distinct dedupes cand_rows " +
        "— silently inconsistent output (gridSizingReport's rule)")
    import graft.functions.VectorFunctions
    val codes = array(cbs.zipWithIndex.map { case (cb, m) =>
      VectorFunctions.pqSubCodeFrom(col(vecCol), cb, m, subDim)
    }: _*)
    val index = TrackedCache.persist(
      ScaleOps.spread(corpus.select(col(idCol).as("cid"),
        col(vecCol).as("cvec"),
        VectorFunctions.ivfCellFold(col(vecCol), coarse).as("cell"),
        codes.as("codes"))))
    // r16: persist — the brute-force truth set is rebuilt identically
    // by g8 and g16 (plan-keyed, so it executes once per session)
    val truth = TrackedCache.persist(
      knnBruteForce(corpus, queries, idCol, vecCol, k)
        .select(col("qid"), col("cid")))
    // r17 (guide §2.4/§3): ONE probe join for every width instead of
    // one per width. ivfProbeCells(np) is by construction the
    // length-np PREFIX of ivfProbeCells(max) (same score, same
    // tie-break), so width np's candidate set is exactly the rows
    // whose probe rank is < np: probe once at the widest setting with
    // posexplode carrying the rank, join the index once, compute the
    // ADC distance once per physical candidate (the per-width loop
    // re-scored the shared prefix at every width), then explode the
    // width list per candidate and rank within (nprobe, qid) — one
    // broadcast, one index pass, one qid-exchange where the loop paid
    // |nprobes| of each. Per-width windows become extra sorts over
    // the same exchange, and every per-width set/rank is unchanged.
    val npMax = nprobes.max
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        posexplode(VectorFunctions.ivfProbeCells(col(vecCol), coarse, npMax)))
      .withColumnRenamed("pos", "prank")
      .withColumnRenamed("col", "cell")
    val scored = index.join(broadcast(q), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("adist",
        VectorFunctions.pqAdcDistFrom(col("qvec"), col("codes"), cbs, subDim))
      .withColumn("nprobe", explode(
        filter(typedLit(nprobes.sorted), n => n > col("prank"))))
    // the per-query candidate-pool size IS the serving cost axis
    // (index rows ADC-scored at this width); counting it in the
    // same (nprobe, qid)-partitioned window pass as the rank costs
    // nothing — the surviving top-k rows carry it out for g16 to sum
    val qw = Window.partitionBy(col("nprobe"), col("qid"))
    val aw = qw.orderBy(col("adist"), col("cid"))
    val cand = scored
      .withColumn("n_cand_q", count(lit(1)).over(qw))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= col("nprobe") * lit(rerankPerProbe))
      .withColumn("cos", VectorFunctions.cosineSim(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val perNp = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("nprobe"), col("qid"), col("cid"), col("n_cand_q"))
    (perNp, truth)
  }

  /** G16 — nprobe SIZING report (the e14f/e25d operating-instrument
    * treatment applied to ANN serving): for each recall TARGET (in
    * percent), the smallest probe width whose measured recall@k meets
    * it, the achieved hits, and the candidate-pool cost that width
    * pays — so nprobe is sized against a target from MEASURED
    * operating points instead of eyeballing g8's curve. The met test
    * is exact integer cross-multiplication (n_hits·100 ≥
    * target·n_truth — no float compare); an unreachable target
    * reports the WIDEST width with met=false (best effort, honestly
    * labeled). Costs one g8 construction (index built once; each
    * width re-joins it), never a rescan per target.
    */
  def nprobeSizingReport(corpus: DataFrame, queries: DataFrame,
                         coarse: Seq[Array[Double]],
                         cbs: Seq[Seq[Array[Double]]],
                         idCol: String, vecCol: String, subDim: Int,
                         nprobes: Seq[Int], rerankPerProbe: Int, k: Int,
                         targetsPercent: Seq[Int]): DataFrame = {
    import graft.functions.VectorFunctions
    val (perNp, truth) = probedTopk(corpus, queries, coarse, cbs, idCol,
      vecCol, subDim, nprobes, rerankPerProbe, k)
    val totals = truth.agg(count(lit(1)).as("n_truth"))
    // cost per width: each surviving qid carries its candidate-pool
    // count; distinct (nprobe, qid, n_cand_q) then sum — equal to the
    // scored-row count per width (a qid probing only empty cells
    // contributes 0 on both sides)
    val candTotals = perNp.select("nprobe", "qid", "n_cand_q").distinct()
      .groupBy("nprobe").agg(sum(col("n_cand_q")).as("cand_rows"))
    // anchor on the LITERAL width list: a width with zero hits (or
    // zero candidates on a degenerate corpus) must still grade every
    // target — otherwise an unreachable target would report a
    // non-widest width, or the report would come back empty exactly
    // when the owner most needs to see met=false
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val widths = nprobes.toDF("nprobe")
    val rep = widths
      .join(perNp.join(truth, Seq("qid", "cid"))
        .groupBy("nprobe").agg(count(lit(1)).as("n_hits")), Seq("nprobe"), "left")
      .join(candTotals, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits", "cand_rows"))
      .crossJoin(broadcast(totals))
    val graded = rep
      .select(col("*"),
        explode(array(targetsPercent.map(t => lit(t.toLong)): _*)).as("target"))
      .withColumn("met", col("n_hits") * 100 >= col("target") * col("n_truth"))
    val w = Window.partitionBy("target").orderBy(col("met").desc,
      when(col("met"), col("nprobe")).otherwise(-col("nprobe")).asc)
    graded.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .withColumn("recall", VectorFunctions.quantize(
        col("n_hits").cast("double") / col("n_truth"), 4))
      .select(col("target"), col("nprobe"), col("met"), col("n_hits"),
        col("n_truth"), col("cand_rows"), col("recall"))
  }

  /** Lloyd k-means over an embedding column — the clustering step a
    * training-data pipeline runs for semantic dedup / mixture
    * balancing (SemDeDup-style cluster-then-dedup), and the trainer
    * for the IVF codebooks above. Seeded with a deterministic
    * centroid frame (no RNG — engine-reproducible); `iters`
    * assignment passes with centroid re-estimation between them.
    *
    * Scale shape per iteration: the centroid frame (k rows) packs
    * into ONE cluster-sorted array row, broadcast; assignment is then
    * a row-local argmin fold over that array — NO row expansion and
    * NO aggregation (a crossJoin×k + min-struct collapse would fall
    * back to SortAggregate: struct minima have no hash-aggregable
    * buffer). The update aggregates (cluster, dim) partial sums
    * map-side — that shuffle carries k·dim rows, not the corpus.
    * Means are decimal-exact, distances strict left folds, ties
    * broken on cluster id (fold keeps the FIRST minimum of the
    * cluster-sorted array) — bit-reproducible across engines.
    */
  def kmeansLloyd(df: DataFrame, init: DataFrame, idCol: String,
                  vecCol: String, iters: Int): DataFrame = {
    // r16: same spread spelling as kmeansCentroids — beyond the
    // parallel assignment kernel, the inner update(assign(seed))
    // chain is then PLAN-IDENTICAL to the centroid frame the trainers
    // persist, so a Lloyd run after any trained-codebook consumer
    // reuses its materialization (and its generated code) instead of
    // recomputing the chain (measured: g5 regressed 4x in-battery
    // when only the trainers were spread)
    val corpus = ScaleOps.spread(df.select(col(idCol), col(vecCol)))
    var assigned = kmeansAssign(corpus, seedCentroids(init, idCol, vecCol),
      idCol, vecCol)
    for (_ <- 1 until iters) {
      assigned = kmeansAssign(corpus, kmeansUpdate(assigned, vecCol),
        idCol, vecCol)
    }
    assigned.select(col(idCol), col("cluster"), col("d"))
  }

  /** [[kmeansLloyd]]'s final assignment WITH the vectors retained —
    * (id, vec, cluster, d). Same assignments (same centroids, same
    * kernel, same tie-breaks) as kmeansLloyd at equal `iters`; the
    * retained vector column is what downstream per-cluster geometry
    * ([[semanticDedup]]'s in-cluster cosines) consumes without a
    * corpus-to-corpus re-join on id.
    */
  def kmeansAssignments(df: DataFrame, init: DataFrame, idCol: String,
                        vecCol: String, iters: Int): DataFrame = {
    // r16: spread — see kmeansLloyd
    val corpus = ScaleOps.spread(df.select(col(idCol), col(vecCol)))
    kmeansAssign(corpus, kmeansCentroids(df, init, idCol, vecCol, iters),
      idCol, vecCol)
  }

  /** SemDeDup (Abbas et al. 2023): cluster-then-dedup-within-cluster —
    * the composition [[kmeansLloyd]] exists for. k-means buckets the
    * corpus semantically; near-dup candidates are ONLY in-cluster
    * pairs (never all-pairs — the join is keyed by `cluster`, so the
    * work is Σ cluster², the same bounded-bucket shape as LSH band
    * joins, and k grows with the corpus to keep clusters bounded);
    * pairs with exact cosine ≥ `tau` become edges; semantic groups
    * are their connected components ([[Dedup.connectedComponents]] —
    * edges are cluster-bounded so components are too); the canonical
    * member per group is keep-best under P6's policy with centrality
    * as the quality score: the member CLOSEST to its cluster centroid
    * (min assignment distance, ties to the smallest id) — two
    * map-side-combined aggregations, deterministic across engines.
    * Non-edge members are their own singleton groups, so the output
    * partitions the corpus: one keeper per semantic group.
    */
  /** The Σ cluster² candidate stage of [[semanticDedup]]: in-cluster
    * pairs (equi-join keyed by `cluster` — never an all-pairs
    * product) with exact cosine. Exposed separately so the plan pin
    * can assert the join shape (the full operator checkpoints its
    * component iterations, which hides this stage from the final
    * query plan).
    */
  def semanticPairs(assigned: DataFrame, idCol: String,
                    vecCol: String): DataFrame = {
    val l = assigned.select(col("cluster"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = assigned.select(col("cluster"), col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, Seq("cluster")).filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosineSim(col("va"), col("vb")))
      .select(col("cluster"), col("a"), col("b"), col("cos"))
  }

  /** SemDeDup: k-means cells bound the pair work; within a cell, pairs
    * at cosine ≥ `tau` form components, and each component keeps its
    * member nearest the centroid. Returns (component, keep_id,
    * n_members, keep_d).
    *
    * Results are [[TrackedCache]] session artifacts, keyed by the
    * canonicalized assignment plan + parameters. The components stage
    * runs an iterative loop through localCheckpoint (plan-cache-OPAQUE
    * RDD scans — each invocation mints fresh RDDs), so unlike the declarative shared frames (Dedup.sharedShingleSet,
    * the h7/h8/p7 token frame) Spark's CacheManager can never dedup
    * repeated semanticDedup invocations by plan match. The memo
    * restores the sharing a declarative plan would get: equal (corpus,
    * init, iters, tau, algo) compute once; the returned frame is
    * persisted so re-executions are cache reads.
    */
  def semanticDedup(df: DataFrame, init: DataFrame, idCol: String,
                    vecCol: String, iters: Int, tau: Double,
                    algo: ComponentsAlgo = ComponentsAlgo.MinLabel): DataFrame = {
    val assignFrame = kmeansAssignments(df, init, idCol, vecCol, iters)
    val key = ("semanticDedup", assignFrame.queryExecution.analyzed.canonicalized,
      tau, algo)
    TrackedCache.getOrCompute(df.sparkSession, key) {
      TrackedCache.persist(
        semanticDedupCompute(assignFrame, idCol, vecCol, tau, algo))
    }
  }

  private def semanticDedupCompute(assignFrame: DataFrame, idCol: String,
                                   vecCol: String, tau: Double,
                                   algo: ComponentsAlgo): DataFrame = {
    val a = TrackedCache.persist(assignFrame)
    val edges = semanticPairs(a, idCol, vecCol)
      .filter(col("cos") >= tau)
      .select("a", "b")
    val comp = Dedup.components(edges, "a", "b", algo)
      .select(col("id").as(idCol), col("component"))
    val withComp = a.select(col(idCol), col("cluster"), col("d"))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val best = withComp.groupBy(col("component"))
      .agg(min(col("d")).as("__best_d"), count(lit(1)).as("n_members"))
    withComp.join(best, "component")
      .filter(col("d") === col("__best_d"))
      .groupBy(col("component"), col("n_members"))
      .agg(min(col(idCol)).as("keep_id"),
        // d is a function of TRAINED centroid values → quantize like
        // g5, tie-stable (round()'s dialects differ at ties — h7)
        VectorFunctions.quantize(min(col("__best_d")), 6).as("keep_d"))
      .select("component", "keep_id", "n_members", "keep_d")
  }

  /** The trained centroid frame (cluster, cv: array<double>) that
    * [[kmeansLloyd]]'s FINAL assignment pass uses — i.e. the seed
    * centroids refined by `iters − 1` Lloyd updates. This is the
    * "swap in trained centroids" seam for the literal-codebook ANN
    * paths: collect the k·dim doubles driver-side (tiny by design)
    * and feed [[annIvfFold]] / [[annIvfPq]], e.g. via
    * [[collectCodebook]].
    */
  def kmeansCentroids(df: DataFrame, init: DataFrame, idCol: String,
                      vecCol: String, iters: Int): DataFrame = {
    // r16: spread — the assignment kernel otherwise runs single-task
    // off a one-file scan (identity on a properly split input)
    val corpus = ScaleOps.spread(df.select(col(idCol), col(vecCol)))
    var cent = seedCentroids(init, idCol, vecCol)
    for (_ <- 1 until iters) {
      cent = kmeansUpdate(kmeansAssign(corpus, cent, idCol, vecCol),
        vecCol)
    }
    // r16: persist the trained centroid frame (k rows). CacheManager
    // keys on the canonicalized plan, so the IDENTICAL training chain
    // built by several consumers (g7b/g8/g16 share one coarse
    // codebook spec) executes ONCE per session instead of once per
    // consumer — train-once/serve-many, the production shape.
    TrackedCache.persist(cent)
  }

  /** Centroid frame → driver-side literal codebook, ordered by
    * cluster id so fold index i = rank of cluster i in sorted order.
    * k·dim doubles — the one collect in the ANN family, bounded by
    * the codebook size, never the corpus.
    */
  def collectCodebook(centroids: DataFrame): Seq[Array[Double]] =
    centroids.orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toArray).toSeq

  private def seedCentroids(init: DataFrame, idCol: String,
                            vecCol: String): DataFrame =
    init.select(col(idCol).as("cluster"),
      transform(col(vecCol), x => x.cast("double")).as("cv"))

  /** One Lloyd assignment pass: the centroid frame (k rows) packs
    * into ONE cluster-sorted pair of arrays (ids + vectors), built
    * once in the 1-row packed frame and broadcast; assignment is the
    * native [[graft.functions.ArgminL2Indexed]] kernel — one
    * compiled loop per corpus row, no row expansion, no aggregation
    * (see [[kmeansLloyd]]'s scale note). The kernel's first-min /
    * null-skip semantics are those of the fold it replaced, and the
    * candidate order is the same cluster-sorted order, so
    * assignments (and ties) are unchanged.
    */
  private def kmeansAssign(corpus: DataFrame, c: DataFrame, idCol: String,
                           vecCol: String): DataFrame = {
    val packed = c.agg(
        sort_array(collect_list(struct(col("cluster"), col("cv")))).as("cents"))
      .select(
        transform(col("cents"), s => s.getField("cluster")).as("__cls"),
        transform(col("cents"), s => s.getField("cv")).as("__cvs"))
    corpus.crossJoin(broadcast(packed))
      .withColumn("__am", VectorFunctions.argminL2(col(vecCol), col("__cvs")))
      .select(col(idCol), col(vecCol),
        when(col("__am.j") >= 0, element_at(col("__cls"), col("__am.j") + 1))
          .otherwise(lit(-1L)).as("cluster"),
        col("__am.d").as("d"))
  }

  /** One Lloyd update pass: decimal-exact per-(cluster, dim) means,
    * map-side combined — the shuffle carries k·dim rows, not the
    * corpus.
    */
  private def kmeansUpdate(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg((sum(col("x").cast("double").cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("mx"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
        p => p.getField("mx")).as("cv"))

  /** Near-dup pairs: bucket-cogrouped all-pairs with exact cosine,
    * top `topN` by similarity (set a threshold filter for the real
    * dedup path; top-N keeps the oracle check non-degenerate on
    * random test vectors).
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   planes: Int, dim: Int, topN: Int): DataFrame = {
    val b = withBucket(df, vecCol, planes, dim)
    val l = b.select(col(idCol).as("a"), col(vecCol).as("va"), col("bucket"))
    val r = b.select(col(idCol).as("b"), col(vecCol).as("vb"), col("bucket"))
    l.join(r, Seq("bucket")).filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosineSim(col("va"), col("vb")))
      .select("a", "b", "bucket", "cos")
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(topN)
  }
}
