package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.EventStreams.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming runs of the unified transforms: MemoryStream micro-batches
  * through the same functions the batch oracle queries use, checked
  * against their batch results on identical data.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  // base offset: day 1, not epoch 0 — rows at/below the INITIAL watermark
  // (epoch 0) are dropped as late by stateful operators
  private def ts(min: Long): Timestamp = new Timestamp((1440L + min) * 60000L)

  private val evs = Seq(
    Ev(1L, ts(0), "view", 1.0),
    Ev(1L, ts(10), "click", 2.0),
    Ev(2L, ts(5), "view", 3.0),
    Ev(1L, ts(200), "view", 4.0), // > 2h gap: new session for user 1
    Ev(2L, ts(65), "error", 5.0), // 1h gap: same session for user 2
    Ev(3L, ts(30), "view", 6.0))

  test("streaming tumbling counts equal the batch transform (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tumbling_out")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val want = EventStreams.tumblingCounts(evs.toDF())
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("stream-static enrichment join matches the batch join (broadcast dim)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = EventStreams.enrichWithDim(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched_out")
      .orderBy("user_id", "ts").collect().map(_.toSeq).toSeq
    val want = EventStreams.enrichWithDim(evs.toDF(), dim, "user_id")
      .orderBy("user_id", "ts").collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
    // user 3 has no dim row: left join keeps it with a null tier
    assert(got.exists(r => r.head == 3L && r.last == null))
  }

  test("stateful sessionizer (flatMapGroupsWithState) matches batch lag/cumsum sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = EventStreams.sessionizeStateful(mem.toDS(), gapMs = 2L * 3600 * 1000)
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(evs.take(3): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(3): _*)
      q.processAllAvailable()
      // watermark flush: a far-future event closes every open session
      mem.addData(Ev(99L, ts(100000), "view", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(99L, ts(100001), "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_out")
      .filter($"user_id" =!= 99L)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[Session].collect().toSet
    val want = EventStreams.sessionizeBatch(evs.toDF())
      .as[Session].collect().toSet
    assert(got == want)
    assert(got.exists(_.n_events == 2)) // multi-event sessions exist
  }

  test("session_window equals lag/cumsum sessions with +gap end (batch)") {
    val viaNative = EventStreams.sessionWindowCounts(evs.toDF())
      .select("user_id", "session_start", "session_end", "n_events")
      .as[Session].collect().toSet
    val viaLag = EventStreams.sessionizeBatch(evs.toDF())
      .withColumn("session_end",
        col("session_end") + expr("INTERVAL 2 HOURS"))
      .select("user_id", "session_start", "session_end", "n_events")
      .as[Session].collect().toSet
    assert(viaNative == viaLag)
  }

  test("checkpointed file sink: restart resumes exactly-once (no dup sessions)") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("sess_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sess_ckpt").toString
    val mem = MemoryStream[Ev]
    def start() = EventStreams.sessionizeStateful(mem.toDS(), gapMs = 2L * 3600 * 1000)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    val q1 = start()
    try {
      mem.addData(evs.take(3): _*)
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the checkpoint; feed the rest + a watermark-advancing
    // sentinel that closes every open session
    val q2 = start()
    try {
      mem.addData(evs.drop(3): _*)
      q2.processAllAvailable()
      mem.addData(Ev(99L, ts(100000), "view", 0.0))
      q2.processAllAvailable()
      mem.addData(Ev(99L, ts(100001), "view", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .filter($"user_id" =!= 99L)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[Session].collect()
    val want = EventStreams.sessionizeBatch(evs.toDF()).as[Session].collect().toSet
    assert(got.toSet == want)
    assert(got.length == got.toSet.size) // exactly-once: no duplicate rows
  }

  test("streaming dedup: repeated event ids collapse, watermark-bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_id", "ts")
    val q = EventStreams.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, ts(10)), (2L, ts(11)), (1L, ts(10))) // intra-batch dup
      q.processAllAvailable()
      mem.addData((2L, ts(12)), (3L, ts(12)))               // cross-batch dup
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval self-join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq( // (event_id, ts, user_id, event_type)
      (1L, ts(0), 7L, "view"), (2L, ts(30), 7L, "click"),
      (3L, ts(90), 7L, "buy"), // > 1h after event 1, pairs only with 2
      (4L, ts(10), 8L, "view"))
    def name(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    mem.addData(rows: _*)
    val joined = EventStreams.followOnPairs(name(mem.toDF()), name(mem.toDF()))
    val q = joined.writeStream.format("memory").queryName("follow_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("follow_out")
      .select("first_event", "next_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = EventStreams.followOnPairs(name(rows.toDF()), name(rows.toDF()))
      .select("first_event", "next_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got == Set((1L, 2L), (2L, 3L)))
  }

  test("dv3f streaming ingest: new payload files upsert incrementally") {
    val payloads = java.nio.file.Files.createTempDirectory("dv3fstream").toFile
    val wh = java.nio.file.Files.createTempDirectory("dv3fstreamwh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dv3fstreamck").toString
    def write(code: String, nbtrans: Double): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(payloads, s"departement_$code.json").toPath,
        s"""{"count":1,"next":null,"previous":null,"results":[
           |{"annee":"2019","dep":"$code","libdep":"L$code",
           |"nbtrans_cod111":$nbtrans}]}""".stripMargin)

    write("85", 7.0)
    val q = Dv3fStreamingIngest.start(spark, payloads.getAbsolutePath, wh, ckpt)
    try {
      q.processAllAvailable()
      val t = s"$wh/src_departement"
      assert(graft.dv3f.Upsert.read(spark, t).count() == 1)
      // a second payload for another code lands incrementally
      write("44", 3.0)
      q.processAllAvailable()
      val rows = graft.dv3f.Upsert.read(spark, t)
        .select("dep", "nbtrans").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("85", 7L), ("44", 3L)))
    } finally q.stop()
  }

  test("dv3f streaming ingest: a micro-batch reads each payload once and leaves nothing cached") {
    val payloads = java.nio.file.Files.createTempDirectory("dv3fonce").toFile
    val wh = java.nio.file.Files.createTempDirectory("dv3foncewh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dv3fonceck").toString
    // three metric cells per payload, folded by the source into two
    // staged rows (cod 111 and 121): 4 source rows in all
    for ((scope, code) <- Seq(("departement", "85"), ("region", "52")))
      java.nio.file.Files.writeString(
        new java.io.File(payloads, s"${scope}_$code.json").toPath,
        s"""{"count":1,"next":null,"previous":null,"results":[
           |{"annee":"2019","dep":"$code","libdep":"L","reg":"$code","libreg":"L",
           |"nbtrans_cod111":7.0,"nbtrans_cod121":2.0,"valeurfonc_sum_cod111":5.5}]}""".stripMargin)
    // the session is shared by every suite: compare with what was
    // persisted before, not with an empty registry
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (_, counts) = graft.Listened(spark) {
      val q = Dv3fStreamingIngest.start(spark, payloads.getAbsolutePath, wh, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    // one read of each payload per micro-batch: no emptiness probe, and
    // the merge's two uses of the batch read the persisted rows
    assert(counts.sourceRows == 4, counts)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    for (t <- Seq("src_departement", "src_region")) // cod 111 and 121
      assert(graft.dv3f.Upsert.read(spark, s"$wh/$t").count() == 2)
  }

  test("dv3f streaming ingest: kill-and-resume is exactly-once; replay converges") {
    val payloads = java.nio.file.Files.createTempDirectory("dv3fres").toFile
    val wh = java.nio.file.Files.createTempDirectory("dv3freswh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dv3fresck").toString
    def write(code: String, nbtrans: Double): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(payloads, s"departement_$code.json").toPath,
        s"""{"count":1,"next":null,"previous":null,"results":[
           |{"annee":"2019","dep":"$code","libdep":"L$code",
           |"nbtrans_cod111":$nbtrans}]}""".stripMargin)
    val t = s"$wh/src_departement"
    def rows() = graft.dv3f.Upsert.read(spark, t)
      .select("dep", "nbtrans").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

    // batch 1, then the query dies
    write("85", 7.0)
    val q1 = Dv3fStreamingIngest.start(spark, payloads.getAbsolutePath, wh, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(rows() == Set(("85", 7L)))

    // payloads keep arriving while the query is down; the restarted
    // query resumes from the checkpointed file index and ingests ONLY
    // the new file — the resume face of exactly-once
    write("44", 3.0)
    val q2 = Dv3fStreamingIngest.start(spark, payloads.getAbsolutePath, wh, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(rows() == Set(("85", 7L), ("44", 3L)))

    // crash-replay: a restart whose checkpoint was lost mid-batch
    // re-delivers EVERYTHING (the worst at-least-once case). Visible
    // rows must not change — exactly-once comes from the keyed
    // versioned upsert (replays converge on uid), not sink transactions
    val q3 = Dv3fStreamingIngest.start(spark, payloads.getAbsolutePath, wh,
      java.nio.file.Files.createTempDirectory("dv3fresck2").toString)
    try q3.processAllAvailable() finally q3.stop()
    assert(rows() == Set(("85", 7L), ("44", 3L)))
    val out = graft.dv3f.Upsert.read(spark, t)
    assert(out.count() == 2) // no duplicate uids from the replay
    assert(graft.dv3f.Quality.uniqueViolations(out, "uid") === 0)
  }

  test("readEventStream: file-source streaming scan with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    graft.Tables.loadEvents(spark, sf).limit(100)
      .write.mode("overwrite").parquet(dir)
    val q = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, dir))
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("file_stream_out").count() > 0)
  }
}
