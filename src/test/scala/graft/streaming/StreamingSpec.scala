package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.api.RecordsQuery
import graft.kpl.KplCodec
import graft.sources.{KplFileSource, KplShardFiles}

class StreamingSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def drain(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  private def drainComplete(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  test("streaming tumbling counts equal the batch aggregation once drained") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(5), "a", 10.0), (2L, ts(20), "a", 5.0), (3L, ts(65), "b", 2.5),
      (4L, ts(70), "a", 1.0), (5L, ts(130), "b", 4.0))
      .toDF("event_id", "ts", "event_type", "value")

    val stream = MemoryStream[(Long, Timestamp, String, Double)](spark)
    stream.addData(Seq((1L, ts(5), "a", 10.0), (2L, ts(20), "a", 5.0),
      (3L, ts(65), "b", 2.5), (4L, ts(70), "a", 1.0), (5L, ts(130), "b", 4.0)))
    val streamDf = stream.toDF.toDF("event_id", "ts", "event_type", "value")

    drainComplete(EventStreams.tumblingCounts(streamDf), "tumbling")

    val got = spark.table("tumbling").orderBy("ws", "event_type")
      .collect().map(_.toSeq)
    val want = EventStreams.tumblingCounts(events).orderBy("ws", "event_type")
      .collect().map(_.toSeq)
    got shouldBe want
    got.length shouldBe 4 // (h0,a) (h1,a) (h1,b) (h2,b)
  }

  test("streaming latest-wins compaction: later micro-batches replace the winner") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    val stream = MemoryStream[(Long, Timestamp, String, Double)](spark)
    // batch 1: user 1 sees "a" then "b"
    stream.addData(Seq((1L, ts(5), "a", 10.0), (2L, ts(20), "b", 5.0)))
    // batch 2: a later event for user 1 and a first event for user 2 — the
    // per-key state buffer must be REPLACED, not appended
    stream.addData(Seq((3L, ts(90), "c", 7.5), (4L, ts(40), "x", 1.0)))
    val streamDf = stream.toDF.toDF("event_id", "ts", "user_id_raw", "value")
      .withColumn("user_id", when(col("user_id_raw") === "x", 2L).otherwise(1L))
      .withColumn("event_type", col("user_id_raw"))
    drainComplete(EventStreams.latestWins(streamDf), "latest_wins")
    val got = spark.table("latest_wins").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    got shouldBe Array((1L, "c", 750L, 3L), (2L, "x", 100L, 1L))
  }

  test("dropDuplicatesWithinWatermark keeps one row per key") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp, String)](spark)
    stream.addData(Seq((7L, ts(1), "x"), (7L, ts(2), "x"), (7L, ts(3), "y"), (8L, ts(4), "x")))
    val df = stream.toDF.toDF("user_id", "ts", "event_type")
    drain(EventStreams.dedupWithinWatermark(df), "dedup")
    spark.table("dedup").select("user_id", "event_type")
      .collect().map(_.toSeq).toSet shouldBe
      Set(Seq(7L, "x"), Seq(7L, "y"), Seq(8L, "x"))
  }

  test("session_window groups events separated by >30min gaps") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp, Double)](spark)
    // user 1: events at 0,10 (one session), then 60 (new session)
    stream.addData(Seq((1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(60), 3.0)))
    val df = stream.toDF.toDF("user_id", "ts", "value")
    drainComplete(EventStreams.sessionWindows(df), "sessions")
    val rows = spark.table("sessions").orderBy("session_start").collect()
    rows.map(_.getAs[Long]("n_events")).toSeq shouldBe Seq(2L, 1L)
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions") {
    import spark.implicits._
    val stream = MemoryStream[EventStreams.Ev](spark)
    // Two sessions for user 1; the second stays open (no later watermark) so
    // only the first is emitted in append mode.
    stream.addData(Seq(
      EventStreams.Ev(1L, ts(0), 1.0), EventStreams.Ev(1L, ts(10), 2.0),
      EventStreams.Ev(1L, ts(120), 5.0)))
    drain(EventStreams.sessionize(stream.toDS()).toDF(), "fmgs")
    val rows = spark.table("fmgs").collect()
    rows.length shouldBe 1
    rows.head.getAs[Long]("n_events") shouldBe 2L
    rows.head.getAs[Long]("value_c") shouldBe 300L
  }

  test("streaming Markov transitions across micro-batch boundaries match the batch lag window") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // fixture events in global event-time order, split into two
    // micro-batches — every user whose timeline straddles the split
    // exercises the cross-batch ValueState chaining
    val evs = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[EventStreams.TypedEv]
      .collect().sortBy(e => (EventStreams.micros(e.ts), e.event_id))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.TypedEv](spark)
      val (first, second) = evs.splitAt(evs.length / 2)
      // two REAL micro-batches: the query drains batch 1 to completion
      // before batch 2 exists, so every user whose timeline straddles the
      // split depends on the ValueState tail (an AvailableNow drain of
      // pre-added data would collapse both blocks into one batch and the
      // cross-batch path would go untested)
      val q = EventStreams.transitions(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("markov_stream")
        .outputMode("append").start()
      stream.addData(first.toSeq)
      q.processAllAvailable()
      val afterFirst = spark.table("markov_stream").count()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      q.stop()
      // the second batch contributed pairs (incl. the straddling ones) —
      // i.e. the drain really happened in two installments
      spark.table("markov_stream").count() should be > afterFirst
      afterFirst should be > 0L
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val streamed = spark.table("markov_stream")
      .groupBy("prev_type", "next_type").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.queries.Events.qEvMarkov(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    streamed shouldBe batch
  }

  test("streaming EWMA across micro-batch boundaries matches the batch fold") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[EventStreams.ValEv]
      .collect().sortBy(e => (EventStreams.micros(e.ts), e.event_id))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.ValEv](spark)
      // two REAL micro-batches (see the Markov spec): users straddling the
      // split exercise the cross-batch ValueState recurrence — the smoothed
      // value entering batch 2 must be batch 1's tail, not a fresh seed
      val (first, second) = evs.splitAt(evs.length / 2)
      val q = EventStreams.ewma(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("ewma_stream")
        .outputMode("append").start()
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val streamed = spark.table("ewma_stream").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("x_c"), r.getAs[Long]("ewma_c"))).toMap
    val batch = graft.queries.Events.qEvEwma(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("x_c"), r.getAs[Long]("ewma_c"))).toMap
    streamed shouldBe batch
  }

  test("streaming CUSUM across micro-batch boundaries matches the batch recurrence") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[EventStreams.ValEv]
      .collect().sortBy(e => (EventStreams.micros(e.ts), e.event_id))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.ValEv](spark)
      // two REAL micro-batches: the baseline AND both drift accumulators
      // entering batch 2 must be batch 1's tail state, not a fresh seed
      val (first, second) = evs.splitAt(evs.length / 2)
      val q = EventStreams.cusum(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("cusum_stream")
        .outputMode("append").start()
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val streamed = spark.table("cusum_stream").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("base_c"), r.getAs[Long]("s_pos_c"),
         r.getAs[Long]("s_neg_c"), r.getAs[Boolean]("alarm_up"))).toMap
    val batch = graft.queries.Events.qEvCusum(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        (r.getAs[Long]("base_c"), r.getAs[Long]("s_pos_c"),
         r.getAs[Long]("s_neg_c"), r.getAs[Boolean]("alarm_up"))).toMap
    streamed shouldBe batch
  }

  test("streaming attribution across micro-batch boundaries matches the batch window") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[EventStreams.TypedEv]
      .collect().sortBy(e => (EventStreams.micros(e.ts), e.event_id))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.TypedEv](spark)
      // two REAL micro-batches: a purchase in batch 2 must attribute to a
      // touch stored in batch 1's state, not to a fresh seed
      val (first, second) = evs.splitAt(evs.length / 2)
      val q = EventStreams.attribution(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("attr_stream")
        .outputMode("append").start()
      stream.addData(first.toSeq)
      q.processAllAvailable()
      stream.addData(second.toSeq)
      q.processAllAvailable()
      q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val streamed = spark.table("attr_stream").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        ((r.getAs[String]("last_touch"), r.getAs[String]("first_touch"),
          r.getAs[Long]("gap_us")))).toMap
    val batch = graft.queries.Events.qEvAttribution(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        ((r.getAs[String]("last_touch"), r.getAs[String]("first_touch"),
          r.getAs[Long]("gap_us")))).toMap
    streamed shouldBe batch
  }

  test("streaming EWMA drops a cross-batch late arrival instead of folding it retroactively") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.ValEv](spark)
      val q = EventStreams.ewma(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("ewma_late")
        .outputMode("append").start()
      // batch 1: x=10.00 seeds s=1000, then x=20.00 → s=(2·2000+8·1000)/10=1200
      stream.addData(Seq(
        EventStreams.ValEv(1L, ts(100), 1L, 10.0),
        EventStreams.ValEv(1L, ts(200), 2L, 20.0)))
      q.processAllAvailable()
      // batch 2: t=50 is OLDER than the stored tail — dropped (an
      // order-sensitive recurrence must not fold it retroactively);
      // t=300 chains onto the batch-1 tail: s=(2·3000+8·1200)/10=1560
      stream.addData(Seq(
        EventStreams.ValEv(1L, ts(50), 3L, 99.0),
        EventStreams.ValEv(1L, ts(300), 4L, 30.0)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("ewma_late").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("ewma_c"))).toSet
      got shouldBe Set((1L, 1000L), (2L, 1200L), (4L, 1560L))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Markov transitions drop a cross-batch late arrival instead of chaining it time-reversed") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.TypedEv](spark)
      val q = EventStreams.transitions(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("markov_late")
        .outputMode("append").start()
      // batch 1: user 1 at t=100 (A) then t=200 (B) → emits A→B, tail = B@200
      stream.addData(Seq(
        EventStreams.TypedEv(1L, ts(100), 1L, "A"),
        EventStreams.TypedEv(1L, ts(200), 2L, "B")))
      q.processAllAvailable()
      // batch 2: t=50 (C) is OLDER than the stored tail — a cross-batch late
      // arrival — and t=300 (D) is in order. The documented contract: C is
      // dropped (never emitted, never becomes the tail), D chains onto B.
      stream.addData(Seq(
        EventStreams.TypedEv(1L, ts(50), 3L, "C"),
        EventStreams.TypedEv(1L, ts(300), 4L, "D")))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("markov_late").collect()
        .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type")))
        .toSet
      got shouldBe Set(("A", "B"), ("B", "D"))
      // no transition touches the late row: neither time-reversed B→C nor
      // C→D (which would mean C silently replaced the tail)
      got.exists { case (a, b) => a == "C" || b == "C" } shouldBe false
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState keeps per-user running totals (RocksDB state store)") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[EventStreams.Ev](spark)
      stream.addData(Seq(
        EventStreams.Ev(1L, ts(0), 1.0), EventStreams.Ev(1L, ts(1), 2.5),
        EventStreams.Ev(2L, ts(2), 4.0)))
      val q = EventStreams.runningTotals(stream.toDS()).toDF()
        .writeStream.format("memory").queryName("tws")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val rows = spark.table("tws").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Long]("value_c")))
        .sortBy(_._1)
      rows.toSeq shouldBe Seq((1L, 2L, 350L), (2L, 1L, 400L))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState TTL: a key idle past the TTL restarts from zero; a generous TTL matches the TTL-free totals") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // TimeMode.ProcessingTime (the TTL contract) keeps constructing
      // batches to advance the clock, so a long-lived ProcessingTime(0)
      // query never settles for processAllAvailable — each feed runs as
      // its own AvailableNow query over a SHARED checkpoint instead (TTL
      // expiry is stamped into the stored state, so it survives restart).
      // One SHARED MemoryStream + checkpoint, one AvailableNow query per
      // drain (the memory sink cannot recover from a checkpoint, so each
      // drain's rows come through foreachBatch): restarting on the shared
      // checkpoint resumes from the committed source offset, and TTL
      // expiry is stamped into the stored state, so it survives the
      // restart boundary.
      def drainOnce(s: MemoryStream[EventStreams.Ev], ck: String,
          ttlMs: Long, data: Seq[EventStreams.Ev])
          : Seq[(Long, Long, Long)] = {
        s.addData(data)
        val got = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Long, Long)]()
        val q = EventStreams.runningTotalsTtl(s.toDS(), ttlMs = ttlMs)
          .writeStream
          .option("checkpointLocation", ck)
          .outputMode("update")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[EventStreams.RunningTotal],
             _: java.lang.Long) =>
              b.collect().foreach(r => got.add((r.user_id, r.n, r.value_c)))
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
        got.toArray(Array.empty[(Long, Long, Long)]).toSeq
      }
      // expiry: TTL 1 ms, two drains separated by a real wall-clock gap
      // — the second must find user 1's state expired and restart the
      // count (the documented trade of bounded-by-policy state)
      val sExp = MemoryStream[EventStreams.Ev](spark)
      val ckExp = java.nio.file.Files
        .createTempDirectory("tws_ttl_ck").toString
      val d1 = drainOnce(sExp, ckExp, 1L,
        Seq(EventStreams.Ev(1L, ts(0), 1.0)))
      d1 shouldBe Seq((1L, 1L, 100L))
      Thread.sleep(100) // strictly past the 1 ms TTL
      val d2 = drainOnce(sExp, ckExp, 1L,
        Seq(EventStreams.Ev(1L, ts(1), 2.0)))
      // restarted from zero — NOT (2, 300)
      d2 shouldBe Seq((1L, 1L, 200L))

      // non-expiry: a generous TTL accumulates exactly like the TTL-free
      // processor across the same restart boundary
      val sGen = MemoryStream[EventStreams.Ev](spark)
      val ckGen = java.nio.file.Files
        .createTempDirectory("tws_ttl_ck2").toString
      drainOnce(sGen, ckGen, 3600000L,
        Seq(EventStreams.Ev(1L, ts(0), 1.0),
          EventStreams.Ev(1L, ts(1), 2.5),
          EventStreams.Ev(2L, ts(2), 4.0))) should contain theSameElementsAs
        Seq((1L, 2L, 350L), (2L, 1L, 400L))
      drainOnce(sGen, ckGen, 3600000L,
        Seq(EventStreams.Ev(1L, ts(3), 0.5))) shouldBe
        Seq((1L, 3L, 400L))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch sink receives every micro-batch exactly once") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Timestamp)](spark)
    stream.addData(Seq((1L, ts(0)), (2L, ts(1)), (3L, ts(2))))
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = stream.toDF.toDF("user_id", "ts").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(batch.count())
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    seen.get() shouldBe 3L
  }

  test("streaming dedup-against-corpus drops seen fingerprints, no stream state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lower, md5}
    val seen = Seq("the quick fox", "hello world")
      .toDF("text").select(md5(lower(col("text"))).as("fp"))
    val stream = MemoryStream[(Long, String)](spark)
    stream.addData(Seq(
      (1L, "hello world"),      // exact dup of the corpus → dropped
      (2L, "HELLO WORLD"),      // dup after normalization → dropped
      (3L, "genuinely new")))   // survives
    val docs = stream.toDF.toDF("doc_id", "text")
      .withColumn("fp", md5(lower(col("text"))))
    drain(EventStreams.dedupAgainstCorpus(docs, seen), "dedup_corpus")
    spark.table("dedup_corpus").select("doc_id").collect()
      .map(_.getLong(0)) shouldBe Array(3L)
  }

  test("stream-static enrichment join broadcasts the dim with no stream state") {
    import spark.implicits._
    val dim = Seq((7L, "gold"), (8L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[(Long, Timestamp, Double)](spark)
    stream.addData(Seq((7L, ts(1), 1.0), (8L, ts(2), 2.0), (9L, ts(3), 3.0)))
    val df = stream.toDF.toDF("user_id", "ts", "value")
    drain(EventStreams.enrichWithDim(df, dim), "enriched")
    spark.table("enriched").select("user_id", "tier")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet shouldBe
      Set((7L, Some("gold")), (8L, Some("basic")), (9L, None))
  }

  test("stream-stream join matches clicks to impressions within the window") {
    import spark.implicits._
    val imps = MemoryStream[(Long, Timestamp)](spark)
    val clks = MemoryStream[(Long, Timestamp)](spark)
    imps.addData(Seq((1L, ts(0)), (2L, ts(0))))
    // user 1 clicks within 30 min; user 2 clicks too late (40 min)
    clks.addData(Seq((1L, ts(10)), (2L, ts(40))))
    val joined = EventStreams.impressionClickJoin(
      imps.toDF.toDF("imp_user", "imp_ts"),
      clks.toDF.toDF("click_user", "click_ts"))
    drain(joined, "ssjoin")
    val rows = spark.table("ssjoin").collect()
    rows.map(_.getAs[Long]("imp_user")).toSeq shouldBe Seq(1L)
  }

  // ---- DSv2 Kinesis-shaped source -----------------------------------------

  private def eventJson(id: Long): String = s"""{"id":$id}"""

  private def writeFixtures(dir: String): Unit = {
    // shard 0: one KPL aggregate (3 user records) at t=10min, one bare at t=20min
    KplShardFiles.write(dir, 0, Seq(
      KplShardFiles.Frame(600000L, "pk-a",
        KplCodec.aggregate("pk-a", (1L to 3L).map(i => eventJson(i).getBytes(UTF_8)))),
      KplShardFiles.Frame(1200000L, "pk-b", eventJson(4L).getBytes(UTF_8))))
    // shard 1: bare records at t=5min and t=30min
    KplShardFiles.write(dir, 1, Seq(
      KplShardFiles.Frame(300000L, "pk-c", eventJson(5L).getBytes(UTF_8)),
      KplShardFiles.Frame(1800000L, "pk-d", eventJson(6L).getBytes(UTF_8))))
  }

  test("kpl-files batch read exposes the Kinesis envelope across shards") {
    val dir = Files.createTempDirectory("kplsrc").toString
    writeFixtures(dir)
    val df = spark.read.format(KplFileSource.ProviderClass)
      .option("path", dir).load()
    df.count() shouldBe 4
    df.select("shardId").distinct().collect().map(_.getString(0)).sorted.toSeq shouldBe
      Seq("shard-00000", "shard-00001")
  }

  test("streaming records pipeline: deaggregate + decode over AvailableNow") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kplsrc").toString
    writeFixtures(dir)
    val q = RecordsQuery.validate(Map("streamname" -> "s")).toOption.get
    val envelope = spark.readStream.format(KplFileSource.ProviderClass)
      .option("path", dir).option("maxRecordsPerFetch", 2).load()
    drain(RecordsStream.records(envelope, q).select("json"), "records_stream")
    val got = spark.table("records_stream").as[String].collect().sorted.toSeq
    got shouldBe (1L to 6L).map(eventJson).sorted
  }

  test("admission control pages through the backlog in bounded batches") {
    val dir = Files.createTempDirectory("kplsrc").toString
    writeFixtures(dir)
    val envelope = spark.readStream.format(KplFileSource.ProviderClass)
      .option("path", dir).option("maxRecordsPerFetch", 1).load()
    val q = envelope.writeStream.format("memory").queryName("paged")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // 4 physical frames, 1 per shard per batch → at least 2 batches ran.
    spark.table("paged").count() shouldBe 4
    q.recentProgress.length should be >= 2
  }
}
