package graft

import graft.streaming.AdsbStream
import graft.streaming.AdsbStream.{CurrentPosition, StreamDoc}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming throughput micro-bench (the batch bench's sibling):
  * drives the three stateful streaming paths with MemoryStream at two
  * input rates and reports rows/s plus the per-batch STATE TRAJECTORY
  * — the evidence that state stays BOUNDED: J3 plateaus at the active
  * fleet size, J5's dedup state plateaus at the unique rows inside
  * the watermark window (older batches expire), and J11's on-disk
  * index grows linearly in unique SURVIVORS, never in raw feed rows.
  *
  * MemoryStream excludes source I/O by design: the number measured is
  * the transform + state-store + sink cost, which is the part this
  * library owns. Each scenario prints one JSON line; the collected
  * output is published as STREAM_BENCH_r{N}.md.
  */
object StreamBench {

  private def ts(ms: Long) = new java.sql.Timestamp(ms)
  private val baseMs = 1700000000000L

  /** rows for one microbatch: `fleet` distinct aircraft keys, event
    * time advancing `stepMs` per batch — every batch touches every
    * key, the worst case for per-key state churn.
    */
  private def fleetBatch(batchIdx: Int, rows: Int, fleet: Int,
                         stepMs: Long): Seq[CurrentPosition] =
    (0 until rows).map { i =>
      val key = i % fleet
      CurrentPosition(f"icao$key%06x", s"cs$key", (key % 180) - 90.0,
        (key % 360) - 180.0, key % 40000, (i % 600).toDouble, "local",
        ts(baseMs + batchIdx * stepMs + (i / fleet)))
    }

  def main(args: Array[String]): Unit = {
    // optional scenario filter: `runMain graft.StreamBench j16` runs
    // only scenarios whose tag starts with the arg
    val only: String => Boolean =
      args.headOption.map(p => (s: String) => s.startsWith(p))
        .getOrElse(_ => true)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("streambench").toString
    val batches = 8
    val rates = Seq(10000, 50000)

    def emit(scenario: String, rate: Int, rowsIn: Long, secs: Double,
             trajectory: Seq[Long], extra: String = ""): Unit =
      println(s"""{"scenario":"$scenario","rows_per_batch":$rate,""" +
        s""""batches":$batches,"rows_in":$rowsIn,"wall_s":${f"$secs%.2f"},""" +
        s""""rows_per_s":${(rowsIn / secs).toLong},""" +
        s""""state_rows_per_batch":${trajectory.mkString("[", ",", "]")},""" +
        s""""state_rows":${trajectory.last}$extra}""")

    // ---- J3: latest-state with TTL (flatMapGroupsWithState) --------
    // state must plateau at the FLEET size whatever the input rate
    if (only("j3_latest_state_ttl")) for (rate <- rates) {
      val fleet = 5000
      val input = MemoryStream[CurrentPosition](spark)
      val q = AdsbStream.latestStateWithTtl(spark, input.toDF(),
          ttlMs = 3600 * 1000L, watermark = "10 seconds")
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", s"$tmp/j3_$rate/ckpt").start()
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        input.addData(fleetBatch(b, rate, fleet, stepMs = 1000L))
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      emit("j3_latest_state_ttl", rate, batches.toLong * rate, secs, traj,
        s""","fleet":$fleet""")
    }

    // ---- J5: watermarked stream dedup ------------------------------
    // 50% of each batch duplicates (key, scrape_time) pairs. Event
    // time advances 5 s per batch against a 10 s watermark, so from
    // batch ~3 on the watermark EXPIRES whole earlier batches: the
    // trajectory must rise for ~3 batches then PLATEAU — dedup state
    // is the unique rows inside the window, not the stream's history.
    if (only("j5_dedup_watermark")) for (rate <- rates) {
      val fleet = 5000
      val input = MemoryStream[CurrentPosition](spark)
      val q = AdsbStream.dedupStream(input.toDF(), "10 seconds",
          Seq("icao24"))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$tmp/j5_$rate/ckpt").start()
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        val rows = fleetBatch(b, rate / 2, fleet, stepMs = 5000L)
        input.addData(rows ++ rows)
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      emit("j5_dedup_watermark", rate, batches.toLong * rate, secs, traj)
    }

    // ---- J11: screen-and-append incremental dedup loop -------------
    // 10% of each batch near-dups the PREVIOUS batch's SURVIVOR
    // region (offset past its own dup slots — a dup referencing a
    // prior dup would reference text that never entered the index,
    // the r8 generator fix: pre-fix only batch 1's dups ever
    // screened); every other doc is globally unique (tokens carry
    // the doc's identity). The on-disk band index must grow linearly
    // in unique SURVIVORS (~90% of feed rows), never in raw rows.
    if (only("j11_screen_append")) for (rate <- rates) {
      val (index, surv) = (s"$tmp/j11_$rate/index", s"$tmp/j11_$rate/surv")
      def docBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
        val dup = b > 0 && i < rate / 10
        val (ob, oi) = if (dup) (b - 1, rate / 10 + i) else (b, i)
        val words = (0 until 30).map(w => s"w${ob}_${oi}_$w")
        StreamDoc(b.toLong * rate + i, words.mkString(" "))
      }
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.screenAndIndexBatch(docBatch(b).toDF("doc_id", "text"),
          b, "doc_id", "text", 3, index, surv)
        spark.read.parquet(index).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val survivors = spark.read.parquet(surv).count()
      emit("j11_screen_append", rate, batches.toLong * rate, secs, traj,
        s""","survivors":$survivors""")
    }

    // ---- J14: exact-substring screen loop --------------------------
    // 10% of each batch EMBEDS a 15-token span of a previous-batch
    // SURVIVOR at offset 3 — no doc-level exact dup, no aligned
    // chunk, only the stride-1 window family can see it. The on-disk
    // window index must grow linearly in SURVIVOR windows.
    if (only("j14_substring_screen")) for (rate <- rates) {
      val (index, surv) = (s"$tmp/j14_$rate/index", s"$tmp/j14_$rate/surv")
      def docBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
        val dup = b > 0 && i < rate / 10
        if (dup) {
          val core = (0 until 20).map(w => s"w${b - 1}_${rate / 10 + i}_$w")
          val words = (0 until 3).map(w => s"p${b}_${i}_$w") ++ core.take(15)
          StreamDoc(b.toLong * rate + i, words.mkString(" "))
        } else {
          StreamDoc(b.toLong * rate + i,
            (0 until 20).map(w => s"w${b}_${i}_$w").mkString(" "))
        }
      }
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.substringScreenBatch(docBatch(b).toDF("doc_id", "text"),
          b, "doc_id", "text", 10, index, surv)
        spark.read.parquet(index).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val survivors = spark.read.parquet(surv).count()
      emit("j14_substring_screen", rate, batches.toLong * rate, secs, traj,
        s""","survivors":$survivors""")
    }

    // ---- J12: bloom-screened streaming decontamination -------------
    // STATELESS by construction: the blacklist folds into a bitset
    // literal probed map-side; only the might-contain sliver (true
    // hits + FPP) pays the stream-static join. state_rows stays 0 at
    // any rate — the throughput ceiling is the scan, not state.
    if (only("j12_bloom_screen")) for (rate <- rates) {
      import graft.functions.HashFunctions
      import org.apache.spark.sql.functions.col
      val banned = (0 until 5000).map(j => s"banned_$j")
      val static = banned.toDF("text")
        .select(HashFunctions.md5prefix64(col("text")).as("fp"))
      def keyedBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
        val text = if (i < rate / 100) banned(i % banned.size) else s"doc_${b}_$i"
        StreamDoc(b.toLong * rate + i, text)
      }
      val input = MemoryStream[StreamDoc](spark)
      val screened = AdsbStream.bloomScreenStream(
        input.toDF().withColumn("fp", HashFunctions.md5prefix64(col("text"))),
        "fp", static, "fp")
      val q = screened.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$tmp/j12_$rate/ckpt").start()
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        input.addData(keyedBatch(b))
        q.processAllAvailable()
        q.lastProgress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(0L)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      // sliver size measured batch-side with the same bitset: the
      // rows that would take the exact join in each microbatch
      val bytes = static
        .agg(graft.functions.BloomFunctions.bloomAgg(col("fp"), 1 << 17, 5))
        .head().getAs[Array[Byte]](0)
      val sliver = keyedBatch(1).toDF("doc_id", "text")
        .withColumn("fp", HashFunctions.md5prefix64(col("text")))
        .filter(graft.functions.BloomFunctions.bloomMightContain(bytes, col("fp")))
        .count()
      emit("j12_bloom_screen", rate, batches.toLong * rate, secs, traj,
        s""","sliver_rows_per_batch":$sliver""")
    }

    // ---- J13: stateless streaming quality gate ---------------------
    // the h14 classifier as a row-local fold (no explode, no groupBy,
    // no state): state_rows stays 0 at any rate; throughput is
    // tokenize + 64-bucket hash + weight fold per doc — the cost a
    // crawl-ingest gate pays per document.
    if (only("j13_quality_gate")) for (rate <- rates) {
      import org.apache.spark.sql.functions.col
      def docBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
        StreamDoc(b.toLong * rate + i,
          (0 until 12).map(j => s"w${(i * 7 + j) % 512}").mkString(" "))
      }
      val input = MemoryStream[StreamDoc](spark)
      val gated = AdsbStream.qualityGateStream(input.toDF(), "doc_id", "text",
        graft.queries.PipelineQueries.classifierWeights)
      val q = gated.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$tmp/j13_$rate/ckpt").start()
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        input.addData(docBatch(b))
        q.processAllAvailable()
        q.lastProgress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(0L)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      // survivor fraction measured batch-side with the same weights
      val kept = AdsbStream.qualityGateStream(
        docBatch(0).toDF("doc_id", "text"), "doc_id", "text",
        graft.queries.PipelineQueries.classifierWeights).count()
      emit("j13_quality_gate", rate, batches.toLong * rate, secs, traj,
        s""","kept_per_batch":$kept""")
    }

    // ---- J16: perceptual media screen loop -------------------------
    // 10% of each batch is a lossy JPEG RE-ENCODE of a previous
    // batch's SURVIVOR asset (genuine near-dup, Hamming ≤ 7); the
    // rest are new seeded 96×96 PNGs. Payload synthesis runs
    // DISTRIBUTED inside the batch (mapPartitions), so the measured
    // rate is the codec+screen pipeline, not driver-side generation.
    // The (band,bv,phash) index must grow linearly in unique
    // SURVIVORS (8 rows each), never in raw assets. Rates are
    // media-scale: the ceiling is the DECODE, not the screen joins.
    if (only("j16_media_screen")) for (rate <- Seq(1000, 3000)) {
      val (index, surv) = (s"$tmp/j16_$rate/index", s"$tmp/j16_$rate/surv")
      def mediaBatch(b: Int): org.apache.spark.sql.DataFrame =
        (0 until rate).map { i =>
          val dup = b > 0 && i < rate / 10
          val seed = if (dup) (b - 1).toLong * rate + rate / 10 + i
                     else b.toLong * rate + i
          (b.toLong * rate + i, seed, dup)
        }.toDF("doc_id", "seed", "dup")
          .repartition(spark.sparkContext.defaultParallelism)
          .as[(Long, Long, Boolean)]
          .mapPartitions(_.map { case (id, seed, dup) =>
            val png = graft.operators.MediaCodec.synthImagePng(seed, 96, 96)
            val payload =
              if (dup) graft.operators.MediaCodec.reencodeJpeg(png).get else png
            graft.operators.Multimodal.MediaRecord(
              id, payload, "image", if (dup) "jpeg" else "png")
          }).toDF()
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.mediaScreenBatch(mediaBatch(b), b, "doc_id", "payload",
          index, surv)
        spark.read.parquet(index).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val survivors = spark.read.parquet(surv).count()
      emit("j16_media_screen", rate, batches.toLong * rate, secs, traj,
        s""","survivors":$survivors""")
    }

    // ---- J20: streaming mergeable quantile-sketch state -------------
    // each microbatch reduces to per-(group, grid cell) counts before
    // landing on disk, so the on-disk trajectory grows in OCCUPIED
    // CELLS per batch (≤ groups·value-range·G — here ≤ ~8k rows/batch
    // at ANY input rate), never in event rows; merge-on-read quantile
    // read-out touches only sketch rows. The streaming percentile
    // dashboard path, state-bounded by construction.
    if (only("j20_quantile_state")) for (rate <- rates) {
      import org.apache.spark.sql.functions._
      val path = s"$tmp/j20_$rate/state"
      def evBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(
          concat(lit("g"), pmod(col("id"), lit(8))).as("g"),
          (pmod(col("id") * col("id") + lit(b.toLong * 131L), lit(9973L))
            / lit(10.0)).as("v"))
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.mergeBatchIntoQuantileState(evBatch(b), b, "g", "v",
          gridPerUnit = 1, path)
        spark.read.parquet(path).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val (qRows, tRead) = {
        val r0 = System.nanoTime()
        val n = AdsbStream.readQuantileState(spark, path, "g",
          Seq(50, 95, 99)).count()
        (n, (System.nanoTime() - r0) / 1e9)
      }
      require(qRows == 8, s"expected 8 group quantile rows, got $qRows")
      emit("j20_quantile_state", rate, batches.toLong * rate, secs, traj,
        s""","groups":$qRows,"read_merge_s":${f"$tRead%.2f"}""")
    }

    // ---- J22: streaming heavy-hitter state ---------------------------
    // each microbatch reduces to ONE CMS matrix row (rate-independent:
    // the trajectory below counts SKETCH rows and stays exactly
    // #batches at any input rate) plus vocabulary-grain exact counts;
    // merge-on-read = driver-side matrix addition + a screened exact
    // aggregation over STATE rows. The streaming trending-keys
    // dashboard, state bounded by sketch + vocabulary, never events.
    if (only("j22_heavy_hitter_state")) for (rate <- rates) {
      import org.apache.spark.sql.functions._
      val path = s"$tmp/j22_$rate/state"
      def keyBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(col("id"),
          when(pmod(col("id"), lit(3)) === 0, lit("hot0"))
            .when(pmod(col("id"), lit(7)) === 0, lit("hot1"))
            .otherwise(concat(lit("cold_"),
              pmod(col("id") * 31 + lit(b.toLong), lit(8192L)))).as("w"))
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.mergeBatchIntoHeavyHitterState(keyBatch(b), b, "w", path)
        spark.read.parquet(s"$path/sketch").count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val countRows = spark.read.parquet(s"$path/counts").count()
      val (hh, tRead) = {
        val r0 = System.nanoTime()
        val rows = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
          .collect()
        (rows, (System.nanoTime() - r0) / 1e9)
      }
      require(hh.map(_.getString(0)).toSet == Set("hot0", "hot1"),
        s"expected the two planted heavy keys, got ${hh.mkString(",")}")
      emit("j22_heavy_hitter_state", rate, batches.toLong * rate, secs, traj,
        s""","count_state_rows":$countRows,"heavy_keys":${hh.length},""" +
          s""""read_merge_s":${f"$tRead%.2f"}""")
    }

    // ---- J21: streaming ANN ingest + partition-pruned serving ------
    // cell assignment is a row-local compiled fold over codebook
    // literals (no joins, no shuffle beyond the partitioned write),
    // so ingest throughput is codec-free map work; the index grows
    // linearly in vectors but SERVING reads only the probed cell=
    // partitions — the serve wall is O(probed cells), independent of
    // total index size, which the read_serve_s column evidences as
    // the index grows 8x across batches.
    if (only("j21_vector_ingest")) for (rate <- rates) {
      import org.apache.spark.sql.functions._
      val cb = graft.functions.VectorFunctions.codebook(16, 64)
      val path = s"$tmp/j21_$rate/index"
      def vecBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(
          (lit(b.toLong * rate) + col("id")).as("vec_id"),
          expr("""transform(sequence(1, 64),
                  j -> CAST(sin(CAST(id * 64 + j AS DOUBLE)) AS FLOAT))""")
            .as("embedding"))
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.ingestVectorBatch(vecBatch(b), b, "vec_id", "embedding",
          cb, path)
        spark.read.parquet(path).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val queries = vecBatch(0).filter(col("vec_id") < 10)
      val (served, tServe) = {
        val s0 = System.nanoTime()
        val n = AdsbStream.annServeFromIndex(spark, path, queries, cb,
          "vec_id", "embedding", k = 5).count()
        (n, (System.nanoTime() - s0) / 1e9)
      }
      require(served == 50, s"expected 10 queries x k=5 served rows, got $served")
      emit("j21_vector_ingest", rate, batches.toLong * rate, secs, traj,
        s""","served_rows":$served,"read_serve_s":${f"$tServe%.2f"}""")
    }

    // ---- J24: streaming training-shard emitter -----------------------
    // the pipeline's OUTPUT maintained by the stream: each microbatch
    // of curated docs becomes token-budget-packed (batch_id, shard)
    // parquet plus planned manifest rows; the trajectory counts shard
    // directories (bounded by batch tokens / budget, not by doc
    // count), and the end-of-run audit recomputes every manifest from
    // file contents — a fast-but-corrupting path cannot win.
    if (only("j24_shard_emitter")) for (rate <- rates) {
      import org.apache.spark.sql.functions._
      val path = s"$tmp/j24_$rate/store"
      def docBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(
          (lit(b.toLong * rate) + col("id")).as("doc_id"),
          concat(lit("document "), col("id"),
            expr("repeat(' token word text', CAST(pmod(id, 9) + 4 AS INT))"))
            .as("text"),
          concat(lit("src"), pmod(col("id"), lit(5))).as("source"))
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.emitShardBatch(docBatch(b), b, path, tokensPerShard = 2048L)
        spark.read.parquet(s"$path/manifest").count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val (auditBad, tAudit) = {
        val a0 = System.nanoTime()
        val bad = AdsbStream.auditShardStore(spark, path)
          .filter(!col("content_match") || !col("token_match")).count()
        (bad, (System.nanoTime() - a0) / 1e9)
      }
      require(auditBad == 0, s"$auditBad shards failed the read-back audit")
      emit("j24_shard_emitter", rate, batches.toLong * rate, secs, traj,
        s""","shards_total":${traj.last},"audit_bad":$auditBad,"audit_s":${f"$tAudit%.2f"}""")
    }

    // ---- J25: streaming token-distribution drift state ---------------
    // H22's drift monitor maintained by the stream: each microbatch
    // reduces to (slice, token, count) at DISTINCT grain (vocabulary-
    // sized state, never occurrences), merge-on-read is counter
    // addition, and the read-out is the H22 JSD report — asserted to
    // carry one row per slice with a bounded divergence, so a
    // fast-but-wrong fold cannot win.
    if (only("j25_token_drift_state")) for (rate <- rates) {
      import org.apache.spark.sql.functions._
      val path = s"$tmp/j25_$rate/state"
      def docBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(
          concat(lit("src"), pmod(col("id"), lit(6))).as("source"),
          concat(lit("common words here w"), pmod(col("id") * 31 + lit(b.toLong), lit(2048L)),
            lit(" tail"), pmod(col("id"), lit(97L))).as("text"))
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.mergeBatchIntoTokenState(docBatch(b), b, "source", "text", path)
        spark.read.parquet(path).count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val (slices, tRead) = {
        val r0 = System.nanoTime()
        val rep = AdsbStream.readDriftReport(spark, path, "source").collect()
        // ln 2 plus the quantization headroom: each per-token JSD
        // contribution is rounded half-up at 6 dp before the decimal
        // sum, so jsd6 can overshoot the true (≤ ln 2) divergence by
        // up to |vocab|·5e-7 — here vocab ≈ 2,148 (3 fixed + 2,048 w*
        // + 97 tail* tokens) → ≈ 1.1e-3; 2e-3 is that bound rounded up
        require(rep.forall(r => r.getDouble(3) >= 0.0 &&
          r.getDouble(3) <= math.log(2.0) + 2e-3),
          "JSD out of [0, ln 2 + quantization bound]")
        (rep.length, (System.nanoTime() - r0) / 1e9)
      }
      require(slices == 6, s"expected 6 slice rows, got $slices")
      emit("j25_token_drift_state", rate, batches.toLong * rate, secs, traj,
        s""","slices":$slices,"read_report_s":${f"$tRead%.2f"}""")
    }

    // ---- J26: streaming near-dup GROUP labels ------------------------
    // F7 components + P6 canonical selection maintained incrementally:
    // each batch fingerprints row-locally, finds candidate edges
    // against the band log, and folds min-labels. The trajectory is
    // LABEL-LOG rows — the boundedness claim is that it tracks PAIRED
    // (near-dup) docs, never raw events: at a 10 % planted dup rate
    // the log ends at exactly rows_in/10 while 90 % of the stream
    // never touches it.
    if (only("j26_group_label_state")) for (rate <- rates) {
      import org.apache.spark.sql.functions._
      val path = s"$tmp/j26_$rate/state"
      def docBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(
          (lit(b.toLong * rate) + col("id")).as("doc_id"),
          when(pmod(col("id"), lit(10)) === 0,
            concat(lit("shared template body text "),
              expr("""concat_ws(' ', transform(sequence(1, 8),
                      j -> concat('t', CAST(pmod(id, 500) AS STRING), '_', j)))""")))
            .otherwise(
              // every token carries the batch: a batch-independent
              // token run would leave ≥4-token shingles shared across
              // batches and MinHash would pair the "unique" docs
              concat(lit(s"unique content batch$b "),
                expr(s"""concat_ws(' ', transform(sequence(1, 8),
                        j -> concat('u', CAST(id AS STRING), '_', j, '_b$b')))""")))
            .as("text"))
      val t0 = System.nanoTime()
      val traj = (0 until batches).map { b =>
        AdsbStream.labelBatchIntoGroupState(docBatch(b), b, "doc_id", "text",
          4, path)
        spark.read.parquet(s"$path/labels").count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val pairedDocs = batches.toLong * rate / 10
      require(traj.last == pairedDocs,
        s"label log must hold exactly the planted dup docs ($pairedDocs), got ${traj.last}")
      val (clusters, tResolve) = {
        val r0 = System.nanoTime()
        val n = AdsbStream.readNearDupLabels(spark, path, "doc_id")
          .select("label").distinct().count()
        (n, (System.nanoTime() - r0) / 1e9)
      }
      require(clusters == 50, s"expected the 50 planted template clusters, got $clusters")
      emit("j26_group_label_state", rate, batches.toLong * rate, secs, traj,
        s""","clusters":$clusters,"paired_docs":$pairedDocs,""" +
          s""""read_resolve_s":${f"$tResolve%.2f"}""")
    }

    // ---- J25 + J22 compaction end-to-end ------------------------------
    // the agg-state merge hooks run LIVE over a 100-batch log: the
    // J25 drift log folds with counter addition (vocab·batches rows →
    // vocab rows) and the J22 matrix log with CmsUtil.mergeBytes (one
    // sketch row per batch → one row) — both read-outs asserted
    // IDENTICAL before and after, so the fold is semantics-invisible
    // by measurement, not just by the J10 merge argument.
    if (only("j25_compaction_merge")) {
      import graft.streaming.StreamIndexCompaction
      import org.apache.spark.sql.functions._
      val (rate, nB) = (2000, 100)
      val path = s"$tmp/j25cm/state"
      def docBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(
          concat(lit("src"), pmod(col("id"), lit(6))).as("source"),
          concat(lit("common words here w"), pmod(col("id") * 31 + lit(b.toLong), lit(2048L)),
            lit(" tail"), pmod(col("id"), lit(97L))).as("text"))
      val t0 = System.nanoTime()
      (0 until nB).foreach { b =>
        AdsbStream.mergeBatchIntoTokenState(docBatch(b), b, "source", "text", path)
      }
      val tFold = (System.nanoTime() - t0) / 1e9
      val rowsBefore = spark.read.parquet(path).count()
      val repBefore = AdsbStream.readDriftReport(spark, path, "source")
        .collect().map(_.toString).sorted.toSeq
      val c0 = System.nanoTime()
      StreamIndexCompaction.compactIndex(spark, path, keepRecent = 2,
        merge = StreamIndexCompaction.mergeTokenState("source"))
      val tCompact = (System.nanoTime() - c0) / 1e9
      val rowsAfter = spark.read.parquet(path).count()
      val repAfter = AdsbStream.readDriftReport(spark, path, "source")
        .collect().map(_.toString).sorted.toSeq
      require(repAfter == repBefore, "compaction changed the drift read-out")
      require(rowsAfter < rowsBefore / 10,
        s"count-sum fold must collapse the log: $rowsBefore -> $rowsAfter")
      println(s"""{"scenario":"j25_compaction_merge","rows_per_batch":$rate,""" +
        s""""batches":$nB,"rows_in":${nB.toLong * rate},""" +
        s""""fold_s":${f"$tFold%.2f"},"compact_s":${f"$tCompact%.2f"},""" +
        s""""state_rows_before":$rowsBefore,"state_rows_after":$rowsAfter,""" +
        s""""readout_equal":true}""")
    }

    if (only("j22_compaction_merge")) {
      import org.apache.spark.sql.functions._
      val (rate, nB) = (2000, 100)
      val path = s"$tmp/j22cm/state"
      def keyBatch(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(rate).select(col("id"),
          when(pmod(col("id"), lit(3)) === 0, lit("hot0"))
            .when(pmod(col("id"), lit(7)) === 0, lit("hot1"))
            .otherwise(concat(lit("cold_"),
              pmod(col("id") * 31 + lit(b.toLong), lit(8192L)))).as("w"))
      val t0 = System.nanoTime()
      (0 until nB).foreach { b =>
        AdsbStream.mergeBatchIntoHeavyHitterState(keyBatch(b), b, "w", path)
      }
      val tFold = (System.nanoTime() - t0) / 1e9
      val sketchBefore = spark.read.parquet(s"$path/sketch").count()
      val countsBefore = spark.read.parquet(s"$path/counts").count()
      val hhBefore = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
        .collect().map(_.toString).sorted.toSeq
      val c0 = System.nanoTime()
      AdsbStream.compactHeavyHitterState(spark, path, "w", keepRecent = 2)
      val tCompact = (System.nanoTime() - c0) / 1e9
      val sketchAfter = spark.read.parquet(s"$path/sketch").count()
      val countsAfter = spark.read.parquet(s"$path/counts").count()
      val hhAfter = AdsbStream.readHeavyHitterState(spark, path, "w", 50L)
        .collect().map(_.toString).sorted.toSeq
      require(hhAfter == hhBefore, "compaction changed the heavy-hitter read-out")
      require(sketchAfter <= 3 && sketchBefore >= nB - 2,
        s"matrix fold must collapse sketch rows: $sketchBefore -> $sketchAfter")
      println(s"""{"scenario":"j22_compaction_merge","rows_per_batch":$rate,""" +
        s""""batches":$nB,"rows_in":${nB.toLong * rate},""" +
        s""""fold_s":${f"$tFold%.2f"},"compact_s":${f"$tCompact%.2f"},""" +
        s""""sketch_rows_before":$sketchBefore,"sketch_rows_after":$sketchAfter,""" +
        s""""count_rows_before":$countsBefore,"count_rows_after":$countsAfter,""" +
        s""""readout_equal":true}""")
    }

    // ---- J23: streaming-index compaction ----------------------------
    // THE small-file scale killer, measured: the J11 screen loop run
    // for ~100 microbatches with and without the background merge.
    // Uncompacted, the index accumulates one batch_id= partition per
    // batch and the per-batch screen wall grows with batch COUNT
    // (listing + many tiny files); compacted every 10 batches
    // (keepRecent=2), the history read is one consolidated segment +
    // a few recent partitions and the tail-10-batch wall stays FLAT.
    // Both runs must produce the IDENTICAL survivor set — compaction
    // is invisible to screen semantics.
    if (only("j23_compaction")) {
      import graft.streaming.StreamIndexCompaction
      val rate = 500
      val nB = 100
      def docBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
        val dup = b > 0 && i < rate / 10
        val (ob, oi) = if (dup) (b - 1, rate / 10 + i) else (b, i)
        StreamDoc(b.toLong * rate + i,
          (0 until 30).map(w => s"w${ob}_${oi}_$w").mkString(" "))
      }
      def run(compactEvery: Int, tag: String): (Double, Double, Int, Long) = {
        val (index, surv) = (s"$tmp/j23_$tag/index", s"$tmp/j23_$tag/surv")
        val t0 = System.nanoTime()
        var tail0 = t0
        (0 until nB).foreach { b =>
          if (b == nB - 10) tail0 = System.nanoTime()
          AdsbStream.screenAndIndexBatch(docBatch(b).toDF("doc_id", "text"),
            b, "doc_id", "text", 3, index, surv)
          if (compactEvery > 0 && b % compactEvery == compactEvery - 1) {
            StreamIndexCompaction.compactIndex(spark, index, keepRecent = 2)
            StreamIndexCompaction.compactIndex(spark, surv, keepRecent = 2)
          }
        }
        val t1 = System.nanoTime()
        val parts = new java.io.File(index).listFiles()
          .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
        val survivors = spark.read.parquet(surv).count()
        ((t1 - t0) / 1e9, (t1 - tail0) / 1e9, parts, survivors)
      }
      val (uTot, uTail, uParts, uSurv) = run(0, "plain")
      val (cTot, cTail, cParts, cSurv) = run(10, "merged")
      require(uSurv == cSurv,
        s"compaction changed the survivor count: $uSurv vs $cSurv")
      println(s"""{"scenario":"j23_compaction","rows_per_batch":$rate,""" +
        s""""batches":$nB,"survivors":$cSurv,""" +
        s""""uncompacted_total_s":${f"$uTot%.2f"},""" +
        s""""uncompacted_tail10_s":${f"$uTail%.2f"},""" +
        s""""uncompacted_partitions":$uParts,""" +
        s""""compacted_total_s":${f"$cTot%.2f"},""" +
        s""""compacted_tail10_s":${f"$cTail%.2f"},""" +
        s""""compacted_partitions":$cParts}""")
    }

    // ---- J29: targeted deletion from a LIVE streaming dedup store ---
    // The P29 takedown propagated into the J11 screen loop's on-disk
    // state: build a 100-batch band index + survivor store (compacted
    // every 10 batches, so the purge must also cross J23's
    // consolidated batch_id=-1 segment without disturbing its
    // src_batch_id replay watermark), delete 1% of every batch's
    // survivors, then PROVE the screens still work by probing:
    // duplicates of DELETED docs must now pass (their bands are
    // gone — the store has genuinely forgotten them), duplicates of
    // surviving docs must still screen out, unique docs pass.
    if (only("j29_deletion_purge")) {
      import graft.operators.Deletion
      import graft.streaming.StreamIndexCompaction
      import org.apache.spark.sql.functions.col
      val rate = 1000
      val nB = 100
      def text(b: Int, i: Int): String =
        (0 until 30).map(w => s"w${b}_${i}_$w").mkString(" ")
      def docBatch(b: Int): Seq[StreamDoc] = (0 until rate).map { i =>
        val dup = b > 0 && i < rate / 10
        val (ob, oi) = if (dup) (b - 1, rate / 10 + i) else (b, i)
        StreamDoc(b.toLong * rate + i, text(ob, oi))
      }
      val (index, surv) = (s"$tmp/j29/index", s"$tmp/j29/surv")
      val tb0 = System.nanoTime()
      (0 until nB).foreach { b =>
        AdsbStream.screenAndIndexBatch(docBatch(b).toDF("doc_id", "text"),
          b, "doc_id", "text", 3, index, surv)
        if (b % 10 == 9) {
          StreamIndexCompaction.compactIndex(spark, index, keepRecent = 2)
          StreamIndexCompaction.compactIndex(spark, surv, keepRecent = 2)
        }
      }
      val tBuild = (System.nanoTime() - tb0) / 1e9
      // 1% of each batch: the first rate/100 ids of its SURVIVOR
      // region (i >= rate/10 — never the screened-out dup slots)
      val delIds = (for {
        b <- 0 until nB
        i <- rate / 10 until rate / 10 + rate / 100
      } yield b.toLong * rate + i).toDF("doc_id")
      val idxBefore = spark.read.parquet(index).count()
      val survBefore = spark.read.parquet(surv).count()
      val d0 = System.nanoTime()
      val ri = Deletion.purgeByKeys(spark, index, Seq("batch_id"),
        "doc_id", delIds)
      val rs = Deletion.purgeByKeys(spark, surv, Seq("batch_id"),
        "doc_id", delIds)
      val tDelete = (System.nanoTime() - d0) / 1e9
      val idxAfter = spark.read.parquet(index).count()
      val survAfter = spark.read.parquet(surv).count()
      require(spark.read.parquet(index)
        .join(delIds, Seq("doc_id")).count() == 0 &&
        spark.read.parquet(surv)
          .join(delIds, Seq("doc_id")).count() == 0,
        "deletion residue in the streaming store")
      // the replay watermark must survive the segment rewrite
      require(StreamIndexCompaction.compactedThrough(spark, index) >= 0,
        "purge lost the compacted segment's src_batch_id watermark")
      // probe batch: 100 dups of deleted docs (must PASS now),
      // 100 dups of surviving docs (must still screen OUT),
      // 100 unique docs (pass)
      val probe =
        (0 until 100).map(b => StreamDoc(900000L + b, text(b, rate / 10))) ++
        (0 until 100).map(b => StreamDoc(910000L + b, text(b, rate / 2))) ++
        (0 until 100).map(i => StreamDoc(920000L + i, text(nB, i)))
      AdsbStream.screenAndIndexBatch(probe.toDF("doc_id", "text"),
        nB, "doc_id", "text", 3, index, surv)
      val probeSurv = spark.read.parquet(surv)
        .filter(col("batch_id") === nB).select("doc_id")
        .as[Long].collect().toSet
      require((900000L until 900100L).forall(probeSurv.contains),
        "dup of a DELETED doc was still screened out — store didn't forget")
      require((910000L until 910100L).forall(id => !probeSurv.contains(id)),
        "dup of a SURVIVING doc passed the screen — deletion broke dedup")
      require((920000L until 920100L).forall(probeSurv.contains),
        "unique probe doc screened out")
      println(s"""{"scenario":"j29_deletion_purge","rows_per_batch":$rate,""" +
        s""""batches":$nB,"rows_in":${nB.toLong * rate},""" +
        s""""build_s":${f"$tBuild%.2f"},"delete_s":${f"$tDelete%.2f"},""" +
        s""""index_rows_before":$idxBefore,"index_rows_after":$idxAfter,""" +
        s""""surv_rows_before":$survBefore,"surv_rows_after":$survAfter,""" +
        s""""index_parts_rewritten":${ri.nRewritten},""" +
        s""""surv_parts_rewritten":${rs.nRewritten},""" +
        s""""probe_invariants":true}""")
    }

    spark.stop()
  }
}
