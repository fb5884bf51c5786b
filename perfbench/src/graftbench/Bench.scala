package graftbench

import graft.SparkEntry
import graft.functions.HashFunctions
import graft.streaming.AdsbStream
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.{Failure, Random, Try}

/** graft's benchmark program. One process runs one workload against the
  * committed tables and writes a JSON record of what it measured; the
  * Python front end (perfbench/run.py) turns that into metrics.
  *
  * Workloads:
  *  - olap_dashboard: a warm closed loop of one client over a fixed set
  *    of OLAP-family QueryDefs, each request `QueryDef.run` plus a full
  *    noop-sink evaluation, in a seeded order per pass;
  *  - curation_batch: a fixed set of pipeline-family QueryDefs run once
  *    each, cold, in seeded order (the first consumer of a trainer,
  *    memo or cache pays for it);
  *  - stream_chain: the J17 -> J13 -> J18 -> J12 -> J14 -> J11 + J26
  *    chain over seeded batches, with P6 canonicals at the end.
  *
  * Usage: graftbench.Bench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --state DIR --out FILE [--cores N] [--goldens FILE]
  *   [--trace-out FILE] [--mode run|golden] [--golden-dir DIR]
  */
object Bench {

  /** Ingest and normalize (a1), store writes beside reads (b1, b12),
    * latest state (c1), the d19-d22 dashboards and ad-hoc OLAP (e1, e11).
    */
  val OlapEntries: Seq[String] = Seq(
    "a1_json_ingest", "b1_partition_day", "b12_bloom_semi_join", "c1_latest_state",
    "d19_dashboard_global_opensky", "d20_dashboard_global_stream",
    "d21_dashboard_regional", "d22_dashboard_local_nearest",
    "e1_pricing_summary", "e11_rollup")

  /** Trainers (h20, p20), a memo whose first consumer pays (f2 + f3
    * share the shingle frame), media decode (i2), shard-store writes
    * (p25) and ANN (g3).
    */
  val CurationEntries: Seq[String] = Seq(
    "h20_train_lang_id", "p20_train_classifier", "f2_dedup_ngram_jaccard",
    "f3_dedup_minhash_lsh", "i2_media_features", "p25_shard_manifest", "g3_ann_ivf")

  /** Every op's timeout, and the time after which no op may still run:
    * the run must end within 180 s, JVM start and stop included.
    */
  val OpTimeoutS = 60.0
  val BudgetS = 140.0
  /** Chain batch size: per-batch fixed cost dominates up to 50 000 rows. */
  val RowsPerBatch = 2000

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, state: String, out: String, cores: Int,
                        goldens: Option[String], traceOut: Option[String],
                        mode: String, goldenDir: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", need("data"), need("state"), need("out"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("goldens"), m.get("trace-out"), m.getOrElse("mode", "run"), m.get("golden-dir"))
  }

  /** Everything one run measured or checked. */
  final class Record {
    var attempted = 0
    var failed = 0
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
    var checksPassed = 0
    var checksRowsOnly = 0
    var checksFailed = 0
    val parts: mutable.ArrayBuffer[Map[String, Double]] = mutable.ArrayBuffer[Map[String, Double]]()
    val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap[String, Any]()
    private val samples = mutable.ArrayBuffer[(String, Double)]()
    private val okByName = mutable.Map[String, Int]().withDefaultValue(0)
    private val bad = mutable.Set[String]()

    /** Latency samples of the ops whose outputs were not found wrong. */
    def latencies: Seq[(String, Double)] = samples.filterNot(s => bad(s._1)).toSeq

    def timed[T](name: String, out: Outcome[T], ctx: OpCtx): Unit = {
      attempted += 1
      out.error match {
        case None if bad(name) => failed += 1
        case None => succeeded(name, out.latencyS, ctx)
        case Some(e) =>
          failed += 1
          failures += s"$name: $e"
      }
    }

    def succeeded(name: String, latencyS: Double, ctx: OpCtx): Unit = {
      samples += name -> latencyS
      okByName(name) += 1
      parts += ctx.parts.toMap
      ctx.stats.foreach(_.add("build_s", ctx.parts.getOrElse("build", 0.0)))
    }

    /** A wrong output fails every op that produced it, and drops their
      * latencies; with no ops named it only fails the run.
      */
    def checkFailed(why: String, ops: String*): Unit = {
      checksFailed += 1
      failures += s"output check failed: $why"
      ops.filterNot(bad).foreach { op => failed += okByName(op); bad += op }
    }

    def okOps: Seq[String] = okByName.keys.toSeq
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = graft.GraftSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.state}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.state}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val deadline = System.nanoTime() + (BudgetS * 1e9).toLong
    if (o.mode == "golden") {
      golden(spark, o)
      spark.stop()
      return
    }
    val probe = if (o.trace) Some(new Probe(spark)) else None
    val client = new Client(spark, probe, OpTimeoutS, deadline)
    val rec = new Record
    o.workload match {
      case "olap_dashboard" => olap(spark, client, o, rec)
      case "curation_batch" => curation(spark, client, o, rec)
      case "stream_chain" => stream(spark, client, o, rec)
      case w => sys.error(s"unknown workload $w")
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq,
      "checks" -> Map("passed" -> rec.checksPassed, "rows_only" -> rec.checksRowsOnly,
        "failed" -> rec.checksFailed),
      "first_timed_ms" -> client.firstTimedMs,
      "latencies_s" -> rec.latencies.map(_._2),
      "op_names" -> rec.latencies.map(_._1),
      "parts" -> rec.parts.toSeq,
      "peak_rss_kb" -> peakRssKb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    out ++= rec.extra
    probe.foreach { p =>
      p.close()
      out("ops") = p.ops.toSeq.map { s =>
        s.c ++ Map("wall_s" -> s.wallS, "job_busy_s" -> s.jobBusyS)
      }
      out("probe") = Map("overhead_s" -> p.overheadNs.get / 1e9,
        "cache_rdds_peak" -> p.cacheRddsPeak, "cache_mem_bytes_peak" -> p.cacheMemPeak,
        "cache_disk_bytes_peak" -> p.cacheDiskPeak)
      o.traceOut.foreach { f =>
        val lines = p.spans.map(s => Json(mutable.LinkedHashMap("trace" -> s.trace, "span" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), lines.mkString("", "\n", "\n"))
      }
      out("anchor") = graft.Calibration.measure(spark, o.cores)
    }
    client.close()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), Json(out))
    spark.stop()
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"no QueryDef named $name"))

  /** Row count and an order-insensitive content hash: the wrapping sum
    * of XXH64 over each row's UnsafeRow bytes.
    */
  def contentHash(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  /** Golden file: `name \t rows \t hash \t check`, where hash `-`
    * means the entry is checked on its row count only.
    */
  private def loadGoldens(path: String): Map[String, (Long, Option[Long])] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(n, rows, hash, _*) = l.split("\t"): @unchecked
      n -> (rows.toLong, if (hash == "-") None else Some(java.lang.Long.parseUnsignedLong(hash, 16)))
    }.toMap
    finally src.close()
  }

  /** Re-run every entry once (untimed) and compare with the goldens; a
    * mismatch also fails the ops in `alsoFails`.
    */
  private def checkOutputs(spark: SparkSession, client: Client, o: Opts, rec: Record,
                           names: Seq[String], alsoFails: Seq[String] = Nil): Unit = {
    val goldens = o.goldens.map(loadGoldens).getOrElse(Map.empty)
    names.distinct.foreach { n =>
      val (out, _) = client.run(s"check:$n", timed = false)(_ => contentHash(query(n)(spark, o.data)))
      (out.value, goldens.get(n)) match {
        case (None, _) => rec.checkFailed(s"$n: ${out.error.getOrElse("failed")}", n +: alsoFails: _*)
        case (_, None) => rec.checkFailed(s"$n: no golden", n +: alsoFails: _*)
        case (Some((rows, _)), Some((gRows, _))) if rows != gRows =>
          rec.checkFailed(s"$n: rows $rows != golden $gRows", n +: alsoFails: _*)
        case (Some((_, h)), Some((_, Some(gh)))) if h != gh =>
          rec.checkFailed(f"$n: hash $h%016x != golden $gh%016x", n +: alsoFails: _*)
        case (_, Some((_, None))) => rec.checksRowsOnly += 1
        case _ => rec.checksPassed += 1
      }
    }
  }

  private def request(spark: SparkSession, dir: String, n: String)(ctx: OpCtx): Unit = {
    val df = ctx.part("build")(query(n)(spark, dir))
    noop(df)
  }

  def olap(spark: SparkSession, client: Client, o: Opts, rec: Record): Unit = {
    // the output checks double as the JIT, codegen and file-listing
    // warm-up: they execute the same physical plans the requests do
    checkOutputs(spark, client, o, rec, OlapEntries)
    val rnd = new Random(o.seed)
    val passes = math.max(2, math.round(o.seconds / 5).toInt)
    for (_ <- 0 until passes; n <- rnd.shuffle(OlapEntries)) {
      val (out, ctx) = client.run(n, timed = true)(request(spark, o.data, n))
      rec.timed(n, out, ctx)
    }
  }

  /** The op is the whole batch, cold: its entries share trainers, memos
    * and caches, so which entry pays for them depends on the order.
    */
  def curation(spark: SparkSession, client: Client, o: Opts, rec: Record): Unit = {
    val order = new Random(o.seed).shuffle(CurationEntries)
    val (out, ctx) = client.run("curation_batch", timed = true) { ctx =>
      order.map(n => n -> Try(request(spark, o.data, n)(ctx)))
    }
    // every entry is an op; the batch is the one latency sample
    out.value.getOrElse(Nil).foreach {
      case (n, Failure(e)) => rec.failures += s"$n: $e"
      case _ =>
    }
    val failedEntries = out.value.map(_.count(_._2.isFailure)).getOrElse(order.size)
    rec.attempted += order.size
    rec.failed += failedEntries
    if (failedEntries == 0) rec.succeeded("curation_batch", out.latencyS, ctx)
    else out.error.foreach(e => rec.failures += s"curation_batch: $e")
    checkOutputs(spark, client, o, rec, CurationEntries, alsoFails = Seq("curation_batch"))
  }

  /** Hash and save every entry's output, for the golden file and the
    * DuckDB cross-check (`perfbench/goldens.py`).
    */
  def golden(spark: SparkSession, o: Opts): Unit = {
    val dir = o.goldenDir.getOrElse(sys.error("--golden-dir required"))
    val names = OlapEntries ++ CurationEntries
    val lines = new Random(o.seed).shuffle(names).map { n =>
      val (rows, h) = contentHash(query(n)(spark, o.data))
      query(n)(spark, o.data).write.mode("overwrite").parquet(s"$dir/$n")
      f"$n\t$rows\t$h%016x"
    }.sorted
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), lines.mkString("", "\n", "\n"))
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), Json(oracles))
  }

  // ---- stream_chain ------------------------------------------------

  /** Letters only: CCNet's digits->0 normalization in J17 would fold
    * digit ids together and cut the "unique" bodies as repeats.
    */
  private def alpha(n: Long): String = {
    var x = n; val sb = new StringBuilder
    while ({ sb.append(('a' + (x % 26).toInt).toChar); x /= 26; x > 0 }) ()
    sb.toString
  }

  def stream(spark: SparkSession, client: Client, o: Opts, rec: Record): Unit = {
    import spark.implicits._
    val rate = RowsPerBatch
    val nBan = rate / 100; val nSub = rate / 10; val nNear = rate / 20
    val rnd = new Random(o.seed)
    val salt = alpha(26L * 26 * 26 + rnd.nextInt(1 << 20))
    val base = s"${o.state}/chain"
    val idx17 = s"$base/idx17"; val surv17 = s"$base/surv17"
    val idx14 = s"$base/idx14"; val surv14 = s"$base/surv14"
    val idx11 = s"$base/idx11"; val surv11 = s"$base/surv11"
    val j26 = s"$base/j26"; val landing = s"$base/landing"
    val banned = (0 until 5000).map(j => s"banned${alpha(j)}")
    val blacklist = banned.toDF("tok").select(HashFunctions.md5prefix64(col("tok")).as("fp"))
    val footers = Seq("site footer alpha rights reserved",
      "site footer beta rights reserved", "site footer gamma rights reserved")

    // Designed slices, by position i in the batch: [0, nBan) banned
    // lead token (J12), then nSub substring copies of a previous
    // survivor (J14), then nNear one-token-edited copies (J11), the
    // rest unique. Dup slices reference the chain's own published
    // survivors of the previous batch.
    def slice(b: Int, id: Long): Char = {
      val i = id - b.toLong * rate
      if (i < nBan) 'b' else if (b > 0 && i < nBan + nSub) 's'
      else if (b > 0 && i < nBan + nSub + nNear) 'n' else 'u'
    }
    def body(b: Int, i: Int): Seq[String] =
      (0 until 18).map(w => s"w${salt}q${alpha(b)}q${alpha(i)}q${alpha(w)}")
    def mkBatch(b: Int, prev: IndexedSeq[String]): Seq[(Long, String)] = {
      val order = if (prev.isEmpty) IndexedSeq.empty[Int] else rnd.shuffle(prev.indices.toIndexedSeq)
      (0 until rate).map { i =>
        val id = b.toLong * rate + i
        val text = slice(b, id) match {
          case 'b' => (banned(rnd.nextInt(banned.size)) +: body(b, i).drop(1)).mkString(" ")
          case 's' =>
            val core = prev(order((i - nBan) % order.size)).split(" ")
            ((0 until 3).map(w => s"p${salt}q${alpha(b)}q${alpha(i)}q${alpha(w)}") ++ core.take(15)).mkString(" ")
          case 'n' =>
            val src = prev(order((nSub + i - nBan - nSub) % order.size)).split(" ").toBuffer
            src(9) = s"n${salt}q${alpha(b)}q${alpha(i)}qx"
            src.mkString(" ")
          case _ => body(b, i).mkString(" ")
        }
        (id, text + "\n" + footers(i % footers.size))
      }
    }

    final case class Frames(s17: DataFrame, gated: DataFrame, mixed: DataFrame,
                            cleaned: DataFrame, s14: DataFrame)
    def runBatch(b: Int)(ctx: OpCtx): Frames = {
      val in = spark.read.parquet(s"$landing/b$b")
      ctx.part("j17")(AdsbStream.paragraphScreenBatch(in, b, "doc_id", "text", idx17, surv17))
      val s17 = spark.read.parquet(surv17).filter(col("batch_id") === b)
        .select(col("doc_id"), col("text_kept").as("text")).persist()
      ctx.part("j17")(s17.count())
      val gated = AdsbStream.qualityGateStream(s17, "doc_id", "text",
        graft.BenchAccess.classifierWeights).select("doc_id", "text").persist()
      ctx.part("j13")(gated.count())
      val mixed = AdsbStream.mixingGateStream(
          gated.withColumn("src", concat(lit("src"), pmod(col("doc_id"), lit(3)).cast("string"))),
          "doc_id", "src", Seq("src0" -> 1000000L, "src1" -> 700000L, "src2" -> 400000L))
        .drop("src").persist()
      ctx.part("j18")(mixed.count())
      val keyed = mixed.withColumn("fp", HashFunctions.md5prefix64(split(col("text"), " ").getItem(0)))
      val cleaned = AdsbStream.bloomScreenStream(keyed, "fp", blacklist, "fp").drop("fp").persist()
      ctx.part("j12")(cleaned.count())
      ctx.part("j14")(AdsbStream.substringScreenBatch(cleaned, b, "doc_id", "text", 10, idx14, surv14))
      val s14 = spark.read.parquet(surv14).filter(col("batch_id") === b)
        .select("doc_id", "text").persist()
      ctx.part("j14")(s14.count())
      ctx.part("j11")(AdsbStream.screenAndIndexBatch(s14, b, "doc_id", "text", 3, idx11, surv11))
      ctx.part("j26")(AdsbStream.labelBatchIntoGroupState(s14, b, "doc_id", "text", 3, j26))
      Frames(s17, gated, mixed, cleaned, s14)
    }

    // Per-stage kills must be exactly the designed slice members that
    // reached the stage, and J17 must keep one copy of each footer.
    def check(b: Int, f: Frames): (Option[String], IndexedSeq[String]) = {
      def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
      val s11 = spark.read.parquet(surv11).filter(col("batch_id") === b).select("doc_id", "text")
      val all = (0 until rate).map(i => b.toLong * rate + i).toSet
      val (i17, i13, i18, i12, i14) = (ids(f.s17), ids(f.gated), ids(f.mixed), ids(f.cleaned), ids(f.s14))
      val survivors = s11.orderBy("doc_id").as[(Long, String)].collect()
      val i11 = survivors.map(_._1).toSet
      val footersKept = f.s17.filter(col("text").contains("site footer")).count()
      def kill(stage: String, in: Set[Long], out: Set[Long], want: Char) = {
        val (got, designed) = (in -- out, in.filter(id => slice(b, id) == want))
        (got == designed) ->
          s"$stage killed ${got.size}, designed ${designed.size}, missed ${(designed -- got).size}"
      }
      // J11's band screen is MinHash LSH: at the designed Jaccard (~0.68)
      // it catches most, not all, near-dups. Its kills must all be
      // near-dups, and at least a quarter of the designed ones.
      def nearDupKills(in: Set[Long], out: Set[Long]) = {
        val (got, designed) = (in -- out, in.filter(id => slice(b, id) == 'n'))
        (got.subsetOf(designed) && got.size * 4 >= designed.size) ->
          s"J11 killed ${got.size}, designed ${designed.size}, outside the slice ${(got -- designed).size}"
      }
      val problems = Seq(
        (i17 == all) -> "J17 dropped documents",
        (footersKept == (if (b == 0) footers.size else 0)) -> s"J17 kept $footersKept footers",
        i13.subsetOf(i17) -> "J13 added documents",
        i18.subsetOf(i13) -> "J18 added documents",
        kill("J12", i18, i12, 'b'), kill("J14", i12, i14, 's'), nearDupKills(i14, i11)
      ).collect { case (false, why) => s"batch $b: $why" }
      // dup slices of the next batch reference the body line of these survivors
      (if (problems.isEmpty) None else Some(problems.mkString("; ")),
        survivors.map(_._2.split("\n")(0)).toIndexedSeq)
    }

    // batch 0 is set-up; each timed batch takes about 9 s on 4 cores
    val batches = 1 + math.max(1, math.round(o.seconds / 15).toInt)
    var prev = IndexedSeq.empty[String]
    for (b <- 0 until batches) {
      // the batch lands before its timer starts
      mkBatch(b, prev).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$landing/b$b")
      val name = s"batch$b"
      // batch 0 creates the state and pays JIT and codegen: set-up
      val (out, ctx) = client.run(name, timed = b > 0)(runBatch(b))
      if (b > 0) rec.timed(name, out, ctx)
      out.value match {
        case Some(f) =>
          val (problem, survivors) = check(b, f)
          Seq(f.s17, f.gated, f.mixed, f.cleaned, f.s14).foreach(_.unpersist())
          problem.foreach(p => if (b > 0) rec.checkFailed(p, name) else rec.checkFailed(p))
          if (problem.isEmpty) rec.checksPassed += 1
          prev = survivors
        case None if b == 0 =>
          rec.failures += s"$name: ${out.error.getOrElse("")}"
          rec.failed += 1
          rec.attempted += 1
          return
        case None => return
      }
    }

    // P6 keep-best canonicals over everything the labeler saw
    val (canonOut, canonCtx) = client.run("p6_canonicals", timed = false) { ctx =>
      ctx.part("canon") {
        val allSeen = spark.read.parquet(surv14)
          .select(col("doc_id"), length(col("text")).cast("long").as("quality"))
        val canon = AdsbStream.canonicalFromLabels(spark, j26, allSeen, "doc_id", "quality")
        (canon.count(), allSeen.count())
      }
    }
    canonOut.value match {
      case Some((canonCount, allDocs)) =>
        val finalSurvivors = spark.read.parquet(surv11).count()
        val labels = AdsbStream.readNearDupLabels(spark, j26, "doc_id").persist()
        val paired = labels.count()
        val groups = labels.select("label").distinct().count()
        labels.unpersist()
        if (canonCount > finalSurvivors)
          rec.checkFailed(s"canonicals $canonCount > J11 survivors $finalSurvivors", rec.okOps: _*)
        else if (canonCount != allDocs - paired + groups)
          rec.checkFailed(s"conservation: $canonCount != $allDocs - $paired + $groups", rec.okOps: _*)
        else rec.checksPassed += 1
        rec.extra("canonicals") = canonCount
      case None => rec.checkFailed(s"p6: ${canonOut.error.getOrElse("failed")}", rec.okOps: _*)
    }
    rec.extra("canon_s") = canonCtx.parts.getOrElse("canon", 0.0)
    rec.extra("rows_per_batch") = rate
    if (o.trace) {
      val state = Seq(idx17, surv17, idx14, surv14, idx11, surv11, j26)
      val files = state.flatMap(p => walk(new java.io.File(p)))
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      rec.extra("state_bytes") = files.map(_.length).sum
      rec.extra("state_files") = files.size
      rec.extra("index_rows") = Seq(idx17, idx14, idx11).map(p => spark.read.parquet(p).count()).sum
    }
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else if (f.exists) Seq(f) else Nil
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
