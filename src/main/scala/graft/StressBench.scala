package graft

import graft.operators.{ComponentsAlgo, Dedup, ScaleOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Adversarial-shape benchmarks the per-round driver Bench can't
  * cover because they need SYNTHESIZED inputs (a Zipf-hot key, a
  * deep path graph) rather than the testdata tables:
  *
  *  - `skew_agg`:  plain groupBy-sum vs [[ScaleOps.saltedSum]] on a
  *    key where one value carries half of all rows.
  *  - `skew_join`: shuffle join against a 100k-row dim under the
  *    same hot key — AQE skew split on, off, and [[ScaleOps.saltedJoin]].
  *  - `components_chain`: [[ComponentsAlgo.MinLabel]] vs
  *    [[ComponentsAlgo.Star]] on 50k parallel 64-node paths
  *    (diameter 63 — min-label's worst case, one round per hop).
  *  - `components_star`:  the same two on 400k size-8 stars
  *    (diameter 2 — the near-dup shape min-label is the default for).
  *  - `media_pipeline`: real-codec throughput — PNG encode+decode+
  *    DCT-pHash per asset, GIF 8-frame keyframe detection, WAV
  *    Goertzel tone recovery; asserts every decode/cut/tone lands.
  *
  * All inputs are deterministic range transforms (no rand), so runs
  * are reproducible; each scenario prints one JSON line and asserts
  * its result invariant (identical agg/join totals, identical
  * component counts) so a fast-but-wrong path can't win.
  *
  * Usage: sbt "runMain graft.StressBench <scenario> [n]"
  */
object StressBench {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** n rows; key 0 holds every even row (half the volume), the rest
    * spread over ~100k keys — the one-hot-aircraft / one-dup-doc
    * shape B7/B8 exist for.
    */
  private def skewedFacts(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(hash(col("id")), lit(100000)).cast("long")).as("k"),
      (col("id") % 1000).cast("double").as("v"))

  def main(args: Array[String]): Unit = {
    val scenario = args(0)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double) = f"$v%.3f"

    scenario match {
      case "skew_agg" =>
        val n = if (args.length > 1) args(1).toLong else 50000000L
        val facts = skewedFacts(spark, n)
        // warm the input path once
        noop(facts)
        val (plainRows, tPlain) = timed {
          val r = facts.groupBy("k")
            .agg(sum(col("v").cast("decimal(18,2)")).cast("double").as("sum_value"))
          noop(r); r.count()
        }
        val (saltRows, tSalt) = timed {
          val r = ScaleOps.saltedSum(facts, "k", "v", 32)
          noop(r); r.count()
        }
        require(plainRows == saltRows, s"row drift: $plainRows vs $saltRows")
        println(s"""{"metric":"skew_agg","n":$n,"plain_sec":${fmt(tPlain)},"salted_sec":${fmt(tSalt)},"keys":$plainRows}""")

      case "skew_join" =>
        val n = if (args.length > 1) args(1).toLong else 50000000L
        val facts = skewedFacts(spark, n)
        val dim = spark.range(100000L)
          .select(col("id").as("k"), (col("id") * 2).as("dim"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        noop(facts)
        def joined = facts.join(dim, "k").select(col("k"), col("v") + col("dim"))
        spark.conf.set("spark.sql.adaptive.enabled", false)
        val (_, tNoAqe) = timed(noop(joined))
        spark.conf.set("spark.sql.adaptive.enabled", true)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", true)
        val (_, tAqe) = timed(noop(joined))
        val (_, tSalt) = timed(noop(
          ScaleOps.saltedJoin(facts, dim, "k", 32)
            .select(col("k"), col("v") + col("dim"))))
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        println(s"""{"metric":"skew_join","n":$n,"sortmerge_sec":${fmt(tNoAqe)},"aqe_skew_sec":${fmt(tAqe)},"salted_sec":${fmt(tSalt)}}""")

      case "components_chain" =>
        // 50k parallel paths of 64 nodes: diameter 63
        val chains = if (args.length > 1) args(1).toLong else 50000L
        val len = 64L
        val edges = spark.range(chains * len)
          .filter(col("id") % len =!= (len - 1))
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        val (nMin, tMin) = timed {
          Dedup.components(edges, "a", "b", ComponentsAlgo.MinLabel,
            maxIter = 100).select("component").distinct().count()
        }
        val (nStar, tStar) = timed {
          Dedup.components(edges, "a", "b", ComponentsAlgo.Star)
            .select("component").distinct().count()
        }
        require(nMin == chains && nStar == chains,
          s"component drift: $nMin / $nStar vs $chains")
        println(s"""{"metric":"components_chain","chains":$chains,"diameter":${len - 1},"minlabel_sec":${fmt(tMin)},"star_sec":${fmt(tStar)}}""")

      case "components_star" =>
        // 400k stars of size 8: diameter 2 — the near-dup shape
        val stars = if (args.length > 1) args(1).toLong else 400000L
        val edges = spark.range(stars * 7)
          .select(expr("(id DIV 7) * 8").as("a"),
            expr("(id DIV 7) * 8 + id % 7 + 1").as("b"))
        val (nMin, tMin) = timed {
          Dedup.components(edges, "a", "b", ComponentsAlgo.MinLabel)
            .select("component").distinct().count()
        }
        val (nStar, tStar) = timed {
          Dedup.components(edges, "a", "b", ComponentsAlgo.Star)
            .select("component").distinct().count()
        }
        require(nMin == stars && nStar == stars,
          s"component drift: $nMin / $nStar vs $stars")
        println(s"""{"metric":"components_star","stars":$stars,"minlabel_sec":${fmt(tMin)},"star_sec":${fmt(tStar)}}""")

      case "components_auto" =>
        // the Auto policy vs best-of-both on BOTH canonical shapes:
        // done = auto ≈ winner on each (star → MinLabel's time,
        // chain → Star's time + the capped MinLabel prefix)
        val stars = 400000L
        val starEdges = spark.range(stars * 7)
          .select(expr("(id DIV 7) * 8").as("a"),
            expr("(id DIV 7) * 8 + id % 7 + 1").as("b"))
        val chains = 50000L
        val len = 64L
        val chainEdges = spark.range(chains * len)
          .filter(col("id") % len =!= (len - 1))
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        def comps(edges: org.apache.spark.sql.DataFrame,
                  algo: ComponentsAlgo): Long =
          Dedup.components(edges, "a", "b", algo, maxIter = 100)
            .select("component").distinct().count()
        // JVM/codegen warmup so the first-timed path doesn't absorb
        // it (a cold first run measured 3.4x slower than warm), then
        // min-of-2 per path — the Bench methodology
        comps(spark.range(1000)
          .select(col("id").as("a"), (col("id") + 1).as("b")),
          ComponentsAlgo.Auto)
        def minOf2(body: => Long): (Long, Double) = {
          val (n1, t1) = timed(body); val (_, t2) = timed(body)
          (n1, math.min(t1, t2))
        }
        val (nAs, tAutoStar) = minOf2(comps(starEdges, ComponentsAlgo.Auto))
        val (nMs, tMinStar) = minOf2(comps(starEdges, ComponentsAlgo.MinLabel))
        val (nSs, tStarStar) = minOf2(comps(starEdges, ComponentsAlgo.Star))
        val (nAc, tAutoChain) = minOf2(comps(chainEdges, ComponentsAlgo.Auto))
        val (nSc, tStarChain) = minOf2(comps(chainEdges, ComponentsAlgo.Star))
        require(nAs == stars && nMs == stars && nSs == stars &&
          nAc == chains && nSc == chains,
          s"component drift: star $nAs/$nMs/$nSs vs $stars, chain $nAc/$nSc vs $chains")
        println(s"""{"metric":"components_auto","stars":$stars,"chains":$chains,"chain_diameter":${len - 1},""" +
          s""""auto_star_sec":${fmt(tAutoStar)},"minlabel_star_sec":${fmt(tMinStar)},"star_star_sec":${fmt(tStarStar)},""" +
          s""""auto_chain_sec":${fmt(tAutoChain)},"star_chain_sec":${fmt(tStarChain)}}""")

      case "components_mixed" =>
        // the Auto policy on a MIXED population (r11 verdict #6: the
        // policy was measured on pure stars and pure chains; real
        // near-dup graphs are a mixture): stars + long chains +
        // cliques interleaved in one edge list. Expected shape: the
        // chain fraction keeps the changed-count front moving, so
        // Auto bails out of the MinLabel prefix, the star/clique
        // regions COALESCE (labels collapse in the init round), the
        // coalescence check routes through contraction — the
        // contracted graph is the chains minus the prefix hops — and
        // Star finishes. Invariant: all three algorithms produce the
        // identical component count; the line reports Auto's regret
        // vs best-explicit.
        val stars = 100000L
        val starEdges = spark.range(stars * 7)
          .select(expr("(id DIV 7) * 8").as("a"),
            expr("(id DIV 7) * 8 + id % 7 + 1").as("b"))
        val chains = 10000L
        val len = 64L
        val chainBase = 10000000L
        val chainEdges = spark.range(chains * len)
          .filter(col("id") % len =!= (len - 1))
          .select((col("id") + chainBase).as("a"),
            (col("id") + chainBase + 1).as("b"))
        val cliques = 1000L
        val k = 16
        val cliqueBase = 20000000L
        val cliquePairs = (0 until k).flatMap(i =>
          (i + 1 until k).map(j => s"named_struct('i', $i, 'j', $j)"))
          .mkString("array(", ", ", ")")
        val cliqueEdges = spark.range(cliques)
          .select(col("id"), explode(expr(cliquePairs)).as("p"))
          .select((col("id") * k + col("p.i") + cliqueBase).as("a"),
            (col("id") * k + col("p.j") + cliqueBase).as("b"))
        val edges = starEdges.unionByName(chainEdges).unionByName(cliqueEdges)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        noop(edges)
        val expected = stars + chains + cliques
        def comps(algo: ComponentsAlgo): Long =
          Dedup.components(edges, "a", "b", algo, maxIter = 100)
            .select("component").distinct().count()
        // warmup (the components_auto lesson: a cold first path reads
        // 3.4x slower), then min-of-2 per algorithm
        comps(ComponentsAlgo.Auto)
        def minOf2(body: => Long): (Long, Double) = {
          val (n1, t1) = timed(body); val (_, t2) = timed(body)
          (n1, math.min(t1, t2))
        }
        val (nA, tAuto) = minOf2(comps(ComponentsAlgo.Auto))
        val (nS, tStar) = minOf2(comps(ComponentsAlgo.Star))
        val (nM, tMin) = minOf2(comps(ComponentsAlgo.MinLabel))
        edges.unpersist()
        require(nA == expected && nS == expected && nM == expected,
          s"component drift: auto $nA / star $nS / minlabel $nM vs $expected")
        val best = math.min(tStar, tMin)
        println(s"""{"metric":"components_mixed","stars":$stars,"chains":$chains,"chain_diameter":${len - 1},"cliques":$cliques,""" +
          s""""auto_sec":${fmt(tAuto)},"star_sec":${fmt(tStar)},"minlabel_sec":${fmt(tMin)},""" +
          s""""auto_vs_best":${fmt(tAuto / best)}}""")

      case "bigram_grain" =>
        // K27 vs the r9 HOF spelling on a boilerplate-heavy corpus
        // (repeated sentences — the shape a real crawl has and the
        // word-salad testdata does not): time the h16/h19 model
        // aggregation (c12 = bigram counts) through both fact frames
        // and report the fact-row grain each shuffles. Invariants:
        // identical distinct-bigram count and identical total
        // occurrences — a fast-but-wrong grain cannot win.
        import graft.functions.HashFunctions
        import graft.operators.TextOps
        val nDocs = if (args.length > 1) args(1).toLong else 200000L
        // 500-sentence pool, 12 words each; every doc = 30 sentence
        // slots cycling over FIVE per-doc sentences (each repeated
        // 6× — in-page boilerplate: headers, nav, footers), picked
        // deterministically by (doc id, slot % 5)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          expr("""array_join(transform(sequence(0, 29), s ->
                    array_join(transform(sequence(0, 11), w ->
                      concat('w', CAST((((id * 31 + (s % 5) * 7) % 500) * 13 + w * 3) % 2200 AS STRING))),
                    ' ')), ' ')""").as("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.write.format("noop").mode("overwrite").save() // materialize corpus
        val kernelFacts = docs
          .select(col("doc_id"),
            explode_outer(HashFunctions.bigramCounts(col("text"))).as("bg"))
          .filter(col("bg").isNotNull)
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"),
            col("bg.c").as("c"))
        val hofFacts = docs
          .withColumn("__ws", TextOps.tokens(col("text")))
          .filter(size(col("__ws")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(__ws) - 2),
               i -> named_struct('w1', element_at(__ws, i + 1),
                                 'w2', element_at(__ws, i + 2)))""")).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        def modelAgg(c12: DataFrame): (Long, Long) = {
          val r = c12.agg(count(lit(1)), sum(col("c12"))).collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        val ((kTypes, kOcc), tKernel) = timed(modelAgg(
          kernelFacts.groupBy("w1", "w2").agg(sum(col("c")).as("c12"))))
        val ((hTypes, hOcc), tHof) = timed(modelAgg(
          hofFacts.groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c12"))))
        val kRows = kernelFacts.count()
        val hRows = hofFacts.count()
        docs.unpersist()
        require(kTypes == hTypes && kOcc == hOcc,
          s"model drift: kernel ($kTypes, $kOcc) vs HOF ($hTypes, $hOcc)")
        println(s"""{"metric":"bigram_grain","docs":$nDocs,"distinct_bigrams":$kTypes,"occurrences":$kOcc,""" +
          s""""kernel_fact_rows":$kRows,"hof_fact_rows":$hRows,""" +
          s""""kernel_model_sec":${fmt(tKernel)},"hof_model_sec":${fmt(tHof)}}""")

      case "token_grain" =>
        // K28 vs the explode spelling — the bigram_grain treatment
        // applied to the TOKEN fact frame (r10 verdict: SCALE_r10
        // §2b argued this by analogy; this measures it): time the
        // h7-shape model aggregation (corpus token frequencies) and
        // the h8-shape per-(doc, term) TF through both fact frames on
        // the same boilerplate-heavy corpus bigram_grain uses.
        // Invariants: identical vocabulary size and identical total
        // occurrences — a fast-but-wrong grain cannot win.
        import graft.functions.HashFunctions
        import graft.operators.TextOps
        val nDocs = if (args.length > 1) args(1).toLong else 200000L
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          expr("""array_join(transform(sequence(0, 29), s ->
                    array_join(transform(sequence(0, 11), w ->
                      concat('w', CAST((((id * 31 + (s % 5) * 7) % 500) * 13 + w * 3) % 2200 AS STRING))),
                    ' ')), ' ')""").as("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        docs.write.format("noop").mode("overwrite").save()
        val kernelFacts = docs
          .select(col("doc_id"),
            explode_outer(HashFunctions.tokenCounts(col("text"))).as("tk"))
          .filter(col("tk").isNotNull)
          .select(col("doc_id"), col("tk.w").as("w"), col("tk.c").as("c"))
        val hofFacts = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        // h7 shape: corpus-frequency model (one row per vocab word)
        def freqAgg(cf: DataFrame): (Long, Long) = {
          val r = cf.agg(count(lit(1)), sum(col("cw"))).collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        val ((kV, kOcc), tKernelFreq) = timed(freqAgg(
          kernelFacts.groupBy("w").agg(sum(col("c")).as("cw"))))
        val ((hV, hOcc), tHofFreq) = timed(freqAgg(
          hofFacts.groupBy("w").agg(count(lit(1)).cast("long").as("cw"))))
        // h8 shape: per-(doc, term) TF — the kernel fact frame IS the
        // TF table (zero aggregation); the explode spelling must
        // aggregate the occurrence stream
        val (kTf, tKernelTf) = timed(kernelFacts.count())
        val (hTf, tHofTf) = timed(
          hofFacts.groupBy("doc_id", "w").agg(count(lit(1)).as("tf")).count())
        val kRows = kTf // the kernel fact frame IS the TF table
        val hRows = hofFacts.count()
        docs.unpersist()
        require(kV == hV && kOcc == hOcc,
          s"model drift: kernel ($kV, $kOcc) vs HOF ($hV, $hOcc)")
        require(kTf == hTf, s"TF grain drift: $kTf vs $hTf")
        println(s"""{"metric":"token_grain","docs":$nDocs,"vocab":$kV,"occurrences":$kOcc,""" +
          s""""kernel_fact_rows":$kRows,"hof_fact_rows":$hRows,"tf_rows":$kTf,""" +
          s""""kernel_freq_sec":${fmt(tKernelFreq)},"hof_freq_sec":${fmt(tHofFreq)},""" +
          s""""kernel_tf_sec":${fmt(tKernelTf)},"hof_tf_sec":${fmt(tHofTf)}}""")

      case "media_probe_pass" =>
        // The i5c second band pass, quantified (r11): planted pairs
        // at drift 8 spread ONE BIT PER BAND — provably invisible to
        // the radius-7 exact-band join (no band agrees) and exactly
        // the shape the Hamming-1 probe pass exists for. Measures the
        // probe pass's candidate volume and wall against the exact
        // pass over the same probe set — the selectivity cost of
        // closing the last 0.4% of candidate recall.
        val n = if (args.length > 1) args(1).toLong else 100000L
        val base = spark.range(n).select(col("id"),
          expr("xxhash64(id)").as("phash"))
        val flip8 = // one flipped bit in every 8-bit band
          """aggregate(sequence(0, 7), CAST(0 AS BIGINT),
             (acc, b) -> acc ^ shiftleft(CAST(1 AS BIGINT), CAST(b * 8 + pmod(id + b, 8) AS INT)))"""
        val planted = spark.range(n / 20).select(
          (col("id") + n).as("id"),
          expr(s"xxhash64((id * 17) % $n) ^ ($flip8)").as("phash"))
        val prints = base.unionByName(planted).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prints.write.format("noop").mode("overwrite").save()
        val probeSide = planted // models the first-pass residual
        // exact-band pass over the probe set finds NOTHING (by
        // construction) — its candidate volume is the baseline
        def bandedCount(probeExpand: Boolean): Long = {
          val bands = (0 until 8).flatMap { b =>
            val bv = shiftright(col("phash"), b * 8).bitwiseAND(lit(255L))
            if (!probeExpand) Seq(struct(lit(b).as("band"), bv.as("bv")))
            else struct(lit(b).as("band"), bv.as("bv")) +:
              (0 until 8).map(j => struct(lit(b).as("band"),
                bv.bitwiseXOR(lit(1L << j)).as("bv")))
          }
          val p = probeSide.select(col("id").as("pa"),
            explode(array(bands: _*)).as("bb"))
            .select(col("pa"), col("bb.band").as("band"), col("bb.bv").as("bv"))
          val i = prints.select(col("id").as("pb"),
            explode(array((0 until 8).map { b =>
              struct(lit(b).as("band"),
                shiftright(col("phash"), b * 8).bitwiseAND(lit(255L)).as("bv"))
            }: _*)).as("bb"))
            .select(col("pb"), col("bb.band").as("band"), col("bb.bv").as("bv"))
          p.join(i, Seq("band", "bv")).filter(col("pa") =!= col("pb")).count()
        }
        val exactCand = bandedCount(probeExpand = false)
        val probeCand = bandedCount(probeExpand = true)
        val (found, tProbe) = timed(
          Dedup.hammingBandProbePairs(probeSide, prints, "id", "phash",
              minHamming = 7, maxHamming = 10)
            .filter((col("a") < n && col("b") >= n) ||
              (col("b") < n && col("a") >= n)).count())
        prints.unpersist()
        require(found >= n / 20,
          s"probe pass missed planted drift-8 pairs: $found vs ${n / 20}")
        println(s"""{"metric":"media_probe_pass","n":$n,"probe_rows":${n / 20},"planted":${n / 20},""" +
          s""""exact_candidates":$exactCand,"probe_candidates":$probeCand,""" +
          s""""probe_sec":${fmt(tProbe)},"planted_found":$found}""")

      case "media_pipeline" =>
        // Real-codec throughput (I5/I7/I8 shapes): per-partition
        // batched synth→encode→decode→feature over n assets. The
        // invariant assertions make a skipped decode path visible
        // (every image decodes, every planted cut/tone recovered).
        import spark.implicits._
        val n = if (args.length > 1) args(1).toLong else 20000L
        val ids = spark.range(n).select(col("id")).as[Long]
          .repartition(spark.sparkContext.defaultParallelism)
        val (imgOk, tImg) = timed {
          ids.mapPartitions(_.map { id =>
            val png = graft.operators.MediaCodec.synthImagePng(id, 96, 96)
            val h = graft.operators.MediaCodec.phash64(png)
            if (h.isDefined) 1L else 0L
          }).reduce(_ + _)
        }
        require(imgOk == n, s"image decode drift: $imgOk vs $n")
        val (gifOk, tGif) = timed {
          ids.filter(col("id") < n / 10).as[Long].mapPartitions(_.map { id =>
            val cutAt = 2 + (id % 5).toInt
            val gif = graft.operators.MediaCodec.synthGifAnimated(id, 96, 96, 8, cutAt)
            val cuts = graft.operators.MediaCodec.sceneCuts(
              graft.operators.MediaCodec.gifFramePHashes(gif).get)
            if (cuts.length == 1 && cuts(0) == cutAt) 1L else 0L
          }).reduce(_ + _)
        }
        require(gifOk == n / 10, s"keyframe drift: $gifOk vs ${n / 10}")
        val (wavOk, tWav) = timed {
          ids.mapPartitions(_.map { id =>
            val wav = graft.operators.MediaCodec.synthWav(id, 8000, 100)
            val planted = 220 + math.floorMod(id, 660L).toInt
            val dom = graft.operators.MediaCodec.dominantFreq(wav, 100, 1000, 5).get
            if (math.abs(dom - planted) <= 3) 1L else 0L
          }).reduce(_ + _)
        }
        require(wavOk == n, s"tone drift: $wavOk vs $n")
        println(s"""{"metric":"media_pipeline","n":$n,"img_decode_phash_sec":${fmt(tImg)},"gif_keyframe_sec":${fmt(tGif)},"gif_n":${n / 10},"wav_dsp_sec":${fmt(tWav)}}""")

      case "media_band_join" =>
        // Where does radius-7 multi-index banding stop being
        // selective? 64-bit prints give 8-bit bands at radius 7:
        // 256 buckets per band, so candidates grow ~ 8·N²/256 —
        // quadratic with a small constant. The radius-3 variant
        // (4×16-bit bands, 65536 buckets) keeps the same N² term
        // 2048× smaller. Planted near-dups (2 flipped bits) must be
        // found by BOTH; the candidate volumes and walls quantify
        // the radius/selectivity trade the operators document.
        import spark.implicits._
        val n = if (args.length > 1) args(1).toLong else 100000L
        val base = spark.range(n).select(col("id"),
          expr("xxhash64(id)").as("phash"))
        val planted = spark.range(n / 20).select(
          (col("id") + n).as("id"),
          // copy of asset id*17 mod n with bits (id%60) and (id%60)+2 flipped
          expr(s"xxhash64((id * 17) % $n) ^ shiftleft(5L, CAST(id % 60 AS INT))")
            .as("phash"))
        val prints = base.unionByName(planted)
        def candidates(nBands: Int): Long = {
          val width = 64 / nBands
          val mask = if (width == 64) -1L else (1L << width) - 1
          prints.select(explode(array((0 until nBands).map { b =>
              struct(lit(b).as("band"),
                shiftright(col("phash"), b * width).bitwiseAND(lit(mask)).as("bv"))
            }: _*)).as("bb"))
            .groupBy("bb.band", "bb.bv").agg(count(lit(1)).as("c"))
            .agg(sum(expr("c * (c - 1) DIV 2"))).head().getLong(0)
        }
        def planted_found(df: org.apache.spark.sql.DataFrame): Long =
          df.filter((col("a") < n && col("b") >= n) ||
            (col("b") < n && col("a") >= n)).count()
        val cand7 = candidates(8)
        val (found7, t7) = timed(planted_found(
          Dedup.hammingBandPairsWide(prints, "id", "phash", maxHamming = 7)))
        val cand3 = candidates(4)
        val (found3, t3) = timed(planted_found(
          Dedup.hammingBandPairs(prints, "id", "phash", maxHamming = 3)))
        require(found7 >= n / 20 && found3 >= n / 20,
          s"planted pairs missed: r7 $found7, r3 $found3, planted ${n / 20}")
        println(s"""{"metric":"media_band_join","n":$n,"planted":${n / 20},""" +
          s""""r7_candidates":$cand7,"r7_sec":${fmt(t7)},"r7_planted_found":$found7,""" +
          s""""r3_candidates":$cand3,"r3_sec":${fmt(t3)},"r3_planted_found":$found3}""")

      case "video_dedup" =>
        // I9 selectivity at sequence grain over SYNTHETIC frame
        // prints (codec throughput is media_pipeline's job; this
        // measures the join): n 8-frame clips, 2 scenes each, frames
        // jittered ≤ 2 bits around their scene print; n/20 planted
        // trimmed copies share frames 2..7 bit-identically. The
        // keyframe band index carries 2 rows per asset (scenes, not
        // frames); the confirm join fans out only per candidate.
        // Invariant: every planted copy confirmed at ≥ 600000 ppm
        // self-coverage.
        // default sized to the media_band_join operating point
        // (~105k banded prints — the documented radius-7 Σ bucket²
        // envelope); the term is quadratic by parameter, same as i5b
        val n = if (args.length > 1) args(1).toLong else 50000L
        def jit(idExpr: String, f: Int) = // ≤ 2 jittered bit flips
          s"shiftleft(1L, CAST(pmod(xxhash64($idExpr, $f), 64) AS INT)) | " +
            s"shiftleft(1L, CAST(pmod(xxhash64($idExpr, ${f + 100}), 64) AS INT))"
        def baseFrames(srcCol: String, trim: Int) =
          (trim until 8).map { f =>
            val scene = if (f < 4) s"xxhash64($srcCol * 2)"
                        else s"xxhash64($srcCol * 2 + 1)"
            s"named_struct('frame_idx', ${f - trim}, " +
              s"'phash', CAST($scene AS BIGINT) ^ (${jit(srcCol, f)}), " +
              s"'is_kf', ${f == trim || f == 4})"
          }.mkString("array(", ", ", ")")
        val orig = spark.range(n).select(col("id").as("doc_id"),
          explode(expr(baseFrames("id", 0))).as("fr"))
        val copies = spark.range(n / 20).select((col("id") + n).as("doc_id"),
          explode(expr(baseFrames(s"((id * 17) % $n)", 2))).as("fr"))
        val prints = orig.unionByName(copies)
          .select(col("doc_id"), col("fr.frame_idx").as("frame_idx"),
            col("fr.phash").as("phash"),
            when(col("doc_id") >= n, 6).otherwise(8).as("n_frames"),
            col("fr.is_kf").as("is_kf"))
        val (found, tJoin) = timed {
          graft.operators.Multimodal.videoNearDupPairs(prints)
            .filter((col("a") < n && col("b") >= n) ||
              (col("b") < n && col("a") >= n)).count()
        }
        require(found >= n / 20,
          s"video dedup missed planted trimmed copies: $found vs ${n / 20}")
        println(s"""{"metric":"video_dedup","clips":$n,"planted":${n / 20},""" +
          s""""kf_index_rows":${2 * n + n / 20 * 2},"planted_found":$found,"join_sec":${fmt(tJoin)}}""")

      case "calibration" =>
        // the host anchor (see [[Calibration]]): prepended to every
        // SCALE_r*_results.txt run so cross-round StressBench walls
        // are normalizable by host speed
        println(s"""{"metric":"calibration","anchor":${Calibration.measure(spark, spark.sparkContext.defaultParallelism)}}""")

      case other =>
        System.err.println(s"unknown scenario: $other")
        sys.exit(1)
    }
    spark.stop()
  }
}
