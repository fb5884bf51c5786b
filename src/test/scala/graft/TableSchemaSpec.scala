package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.TrackedCache
import graft.sources.Tables
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** [[Tables]]' per-session schema memo: a warm read launches no Spark
  * job, a table rewritten in place is re-inferred without a release,
  * the memo is result-invisible, and every table shares one
  * [[TrackedCache]] slot.
  */
class TableSchemaSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Spark jobs started while `body` runs. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def withSession(f: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    try f(s) finally TrackedCache.release(s)
  }

  test("a warm read of an unchanged table launches no job and returns the same rows") {
    withSession { s =>
      val (cold, coldJobs) = jobsIn(Tables.lineitem(s, sf))
      assert(coldJobs >= 1, "the first read infers the schema with a job")
      val (warm, warmJobs) = jobsIn(Tables.lineitem(s, sf))
      assert(warmJobs == 0, "a warm read must not re-infer the schema")
      assert(warm.schema == cold.schema)
      assert(rows(warm) == rows(cold) && rows(warm).nonEmpty)
    }
  }

  test("a table overwritten in place is re-inferred without a release") {
    withSession { s =>
      val tmp = Files.createTempDirectory("graft-schemas").toFile
      try {
        import s.implicits._
        val a = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
        val b = Seq((3L, "z", 0.5), (4L, "w", 1.5), (5L, "v", 2.5)).toDF("id", "name", "score")
        // a directory table, written the way specs and stores write them
        a.write.parquet(s"$tmp/dir.parquet")
        assert(rows(Tables.table(s, tmp.toString, "dir")) == rows(a))
        b.write.mode("overwrite").parquet(s"$tmp/dir.parquet")
        val dirB = Tables.table(s, tmp.toString, "dir")
        assert(dirB.schema.fieldNames.toSeq == Seq("id", "name", "score"))
        assert(rows(dirB) == rows(b))
        // a single-file table, like the generated datasets
        def writeFile(df: DataFrame, staging: String): Unit = {
          df.coalesce(1).write.parquet(s"$tmp/$staging")
          val part = new java.io.File(s"$tmp/$staging").listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
          Files.copy(part.toPath, new java.io.File(s"$tmp/file.parquet").toPath,
            StandardCopyOption.REPLACE_EXISTING)
        }
        writeFile(a, "stage-a")
        assert(rows(Tables.table(s, tmp.toString, "file")) == rows(a))
        writeFile(b, "stage-b")
        val fileB = Tables.table(s, tmp.toString, "file")
        assert(fileB.schema.fieldNames.toSeq == Seq("id", "name", "score"))
        assert(rows(fileB) == rows(b))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
  }

  test("events: the memoized read equals an uncached spark.read.parquet") {
    withSession { s =>
      val cold = Tables.events(s, sf)
      // Tables.events set nanosAsLong; the uncached read runs under it
      val raw = s.read.parquet(s"$sf/events.parquet")
      val memoRaw = Tables.table(s, sf, "events")
      assert(memoRaw.schema == raw.schema)
      assert(rows(memoRaw) == rows(raw))
      // the normalization of either physical spelling of `ts`
      val expected = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      }
      val warm = Tables.events(s, sf)
      Seq(cold, warm).foreach { df =>
        assert(df.schema == expected.schema)
        assert(rows(df) == rows(expected) && rows(df).nonEmpty)
      }
    }
  }

  test("the inference confs are part of the key") {
    withSession { s =>
      val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val raw = s.read.parquet(s"$sf/events.parquet")
      assume(raw.schema("ts").dataType == TimestampNTZType,
        "needs the TIMESTAMP(MICROS, isAdjustedToUTC=false) spelling of events.ts")
      assert(Tables.table(s, sf, "events").schema == raw.schema)
      // with the conf off the same file infers `ts` as a session timestamp
      s.conf.set(conf, "false")
      val uncached = s.read.parquet(s"$sf/events.parquet")
      assert(uncached.schema("ts").dataType == TimestampType)
      val memo = Tables.table(s, sf, "events")
      assert(memo.schema == uncached.schema)
      assert(rows(memo) == rows(uncached))
    }
  }

  test("release, then recompute, gives identical rows for every table") {
    withSession { s =>
      def all(): Seq[(String, DataFrame)] = Tables.all.map {
        case "events" => "events" -> Tables.events(s, sf)
        case t => t -> Tables.table(s, sf, t)
      }
      val before = all().map { case (t, df) => (t, df.schema, rows(df)) }
      TrackedCache.release(s)
      val (afterFrames, jobs) = jobsIn(all())
      assert(jobs >= Tables.all.size, "release drops the schemas: every table re-infers")
      val after = afterFrames.map { case (t, df) => (t, df.schema, rows(df)) }
      before.zip(after).foreach { case (b, a) =>
        assert(b._3.nonEmpty, s"${b._1}: empty table proves nothing")
        assert(a == b, s"${b._1}: schema or rows changed across release")
      }
    }
  }

  test("all ten tables occupy one artifact slot and evict no trainer artifact") {
    withSession { s =>
      var computes = 0
      def trainer() = TrackedCache.getOrCompute(s, "trainer") { computes += 1; Seq(computes) }
      trainer()
      // events first: it sets the nanosAsLong flag its raw read needs
      Tables.events(s, sf)
      Tables.all.foreach(t => Tables.table(s, sf, t))
      // the trainer and the schemas hold two slots; fill the other 14
      (1 to TrackedCache.ArtifactCap - 2).foreach(i => TrackedCache.getOrCompute(s, ("fill", i))(Seq(i)))
      trainer()
      assert(computes == 1, "the schema memo must hold exactly one slot")
      val (_, jobs) = jobsIn(Tables.all.foreach(t => Tables.table(s, sf, t)))
      assert(jobs == 0, "every table's schema is still memoized")
      // one more artifact evicts the oldest, the trainer
      TrackedCache.getOrCompute(s, "one-more")(Seq(0))
      trainer()
      assert(computes == 2)
    }
  }
}
