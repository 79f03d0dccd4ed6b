package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Hll
import graft.streaming.{SketchStream, Streams}

/** One fed event; `event_id` repeats on a re-delivery. */
final case class FeedEvent(event_id: Long, user_id: Long, ts: Timestamp, kind: String)

/** A closed-loop replay of an event feed through `MemoryStream` in
  * fixed-size micro-batches: the next batch is added only after the
  * previous one has committed in all three stateful queries —
  * `Streams.sessionize`, `Streams.dedupStream` and
  * `SketchStream.hllSketch`, each writing to a memory sink with its own
  * checkpoint. It measures drain rate, not a sustainable-rate sweep.
  *
  * The feed: users drawn Zipf-skewed, each active in sessions separated by
  * silences longer than any delay; events arrive out of order by up to
  * `OnTimeDelayMs`; a fixed share arrive late by `LateDelayMs`, past the
  * dedup watermark, and a fixed share are re-delivered. A final flush
  * batch carries one far-future event per user so every real session
  * closes. */
final class StreamReplay(seed: Long, small: Boolean) extends Workload {
  import StreamReplay._

  val checksPerPass = 3
  private val nEvents = if (small) BatchSize / 2 else NEvents
  private var batches = Seq.empty[Seq[FeedEvent]]
  private var mustDrop = Set.empty[Long]
  private var mustKeep = Set.empty[Long]
  private var tag = ""
  private var expectedSessions = Set.empty[(Long, Long, Long, Long)]

  def generate(spark: SparkSession, in: String): Unit = {
    val rnd = new Random(seed)
    val zipf = {
      val w = (1 to NUsers).map(r => 1.0 / math.pow(r, 1.1))
      val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
      () => { val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()); if (i >= 0) i else -i - 1 }
    }
    // One event every millisecond on average. A user may emit again either
    // within a quarter of the session gap (same session) or after a silence
    // longer than any arrival delay (new session), never in between; now
    // and then it falls silent on purpose. Drawn users that may not emit
    // yet are redrawn, so the rate does not depend on the skew.
    val last = Array.fill(NUsers)(-1L)
    val quietUntil = Array.fill(NUsers)(0L)
    val events = mutable.ArrayBuffer.empty[(Long, Long)] // (user, ts); ts even
    var clock = StartMs
    def mayEmit(u: Int) = clock >= quietUntil(u) &&
      (last(u) < 0 || clock - last(u) <= GapMs / 4 || clock - last(u) >= SilenceMs)
    while (events.size < nEvents) {
      clock += 2L * rnd.nextInt(2)
      var u = zipf()
      while (!mayEmit(u)) u = zipf()
      events += ((u.toLong, clock))
      last(u) = clock
      if (rnd.nextDouble() < 0.01) quietUntil(u) = clock + SilenceMs
    }
    // Never two late events in a row for one user: the hole a late event
    // leaves in its session stays below the session gap.
    val prevLate = mutable.Set.empty[Long]
    val arrivals = events.map { case (u, ts) =>
      if (!prevLate(u) && rnd.nextDouble() < LateShare) {
        prevLate += u
        ts + LateDelayMs + rnd.nextInt(1000)
      } else {
        prevLate -= u
        ts + rnd.nextInt(OnTimeDelayMs.toInt)
      }
    }
    val feed = mutable.ArrayBuffer.empty[(FeedEvent, Long)]
    events.indices.foreach { i =>
      val (u, ts) = events(i)
      val e = FeedEvent(i.toLong, u, new Timestamp(ts), s"k${i % NKinds}")
      feed += ((e, arrivals(i)))
      if (arrivals(i) - ts < OnTimeDelayMs && rnd.nextDouble() < RedeliveryShare)
        feed += ((e, arrivals(i) + 100 + rnd.nextInt(900)))
    }
    val ordered = feed.sortBy { case (e, a) => (a, e.event_id) }.map(_._1).toSeq
    val flush = events.map(_._1).distinct.sorted.zipWithIndex.map { case (u, k) =>
      FeedEvent(events.size.toLong + k, u, new Timestamp(clock + 100L * GapMs), "flush")
    }
    import spark.implicits._
    (ordered ++ flush).toDS().coalesce(1).write.mode("overwrite").parquet(s"$in/feed")
    // the replay harness delivers the feed from the driver, in file order
    val loaded = spark.read.parquet(s"$in/feed").as[FeedEvent].collect().toSeq
    batches = loaded.filter(_.kind != "flush").grouped(BatchSize).toSeq :+
      loaded.filter(_.kind == "flush")
    watermarkBounds()
  }

  /** Which events the dedup watermark must drop and which it must keep.
    * Spark filters late rows of batch k against the watermark left by
    * batch k-1 or, with its lagging late-event watermark, by batch k-2;
    * both lie within [from max ts up to k-2, from max ts up to k-1] minus
    * the delay. An event's first arrival below that range must be dropped,
    * above it kept; inside it either is correct. */
  private def watermarkBounds(): Unit = {
    val maxTs = batches.map(_.map(_.ts.getTime).max).scanLeft(Long.MinValue)(math.max).tail
    def wm(k: Int) = if (k < 0) 0L else math.max(0L, maxTs(k) - WatermarkMs)
    val first = mutable.LinkedHashMap.empty[Long, (Long, Int)]
    for ((b, k) <- batches.zipWithIndex; e <- b) first.getOrElseUpdate(e.event_id, (e.ts.getTime, k))
    mustDrop = first.collect { case (id, (ts, k)) if ts < wm(k - 2) => id }.toSet
    mustKeep = first.collect { case (id, (ts, k)) if ts > wm(k - 1) => id }.toSet
  }

  /** The batch recomputation the stream-end sessions must equal. */
  override def prepare(spark: SparkSession, in: String): Unit = {
    val real = spark.read.parquet(s"$in/feed").where(col("kind") =!= "flush")
    expectedSessions = Streams.sessionizeBatch(real, "user_id", "ts", GapMs)
      .select(col("user_id"), unix_millis(col("session_start")),
        unix_millis(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
  }

  def pass(spark: SparkSession, in: String, out: String, tr: Tracer): PassOut = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[FeedEvent]
    val ds = mem.toDS()
    tag = s"p${tr.pass}"
    def sink(q: org.apache.spark.sql.Dataset[_], name: String, mode: String): StreamingQuery =
      q.writeStream.outputMode(mode).format("memory").queryName(s"${name}_$tag")
        .option("checkpointLocation", s"$out/ckpt/$name").start()
    val queries = tr.span("streaming.start") {
      Seq(
        sink(Streams.sessionize(ds.map(e => Streams.SessionEvent(e.user_id, e.ts, e.kind)), GapMs),
          "sessions", "append"),
        sink(Streams.dedupStream(ds.toDF(), Seq("event_id"), "ts", s"$WatermarkMs milliseconds"),
          "dedup", "append"),
        sink(SketchStream.hllSketch(ds.toDF(), "user_id", "kind"), "hll", "update"))
    }
    val lat = try batches.map { b =>
      tr.span("streaming.batch") {
        val t0 = System.nanoTime()
        mem.addData(b)
        queries.foreach(_.processAllAvailable())
        (System.nanoTime() - t0) / 1e6
      }
    } finally tr.span("streaming.stop") { queries.foreach(_.stop()) }
    PassOut(batchMs = lat, events = batches.map(_.size.toLong).sum)
  }

  def check(spark: SparkSession, in: String, out: String, po: PassOut): Verdict = {
    import spark.implicits._
    val failures = mutable.ArrayBuffer.empty[String]

    val sessions = spark.table(s"sessions_$tag")
      .select(col("user_id"), unix_millis(col("session_start")),
        unix_millis(col("session_end")), col("n_events").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    if (sessions != expectedSessions)
      failures += s"sessions: ${(sessions -- expectedSessions).size} not in the batch " +
        s"recomputation, ${(expectedSessions -- sessions).size} missing"

    val kept = spark.table(s"dedup_$tag").select("event_id").as[Long].collect()
    val keptSet = kept.toSet
    if (kept.length != keptSet.size || !mustKeep.subsetOf(keptSet) || keptSet.exists(mustDrop))
      failures += s"dedup: ${kept.length} rows for ${keptSet.size} ids; " +
        s"${(mustKeep -- keptSet).size} on-time events lost, " +
        s"${keptSet.count(mustDrop)} late events kept"

    val regs = spark.table(s"hll_$tag").groupBy("group")
      .agg(expr("max_by(regs, n)").as("regs")).as[(String, Seq[Int])].collect().toMap
    val expectedRegs = batches.flatten.groupBy(_.kind).map { case (k, es) =>
      val r = new Array[Int](Hll.M)
      es.foreach(e => Hll.add(r, e.user_id))
      k -> r.toSeq
    }
    if (regs != expectedRegs) failures += "hll: stream-end registers differ from the batch sketch"

    Seq("sessions", "dedup", "hll").foreach(n => spark.catalog.dropTempView(s"${n}_$tag"))
    Verdict(3, failures.toSeq)
  }
}

object StreamReplay {
  val NUsers = 2000
  val NEvents = 8000
  val BatchSize = 2000
  val NKinds = 6
  val StartMs = 1000000L
  val GapMs = 2000L
  /** Sessions of one user are separated by more than any arrival delay, so
    * a delayed event can never arrive after its user's next session began:
    * the stateful sessionizer then agrees with the batch recomputation. */
  val SilenceMs = 8000L
  val OnTimeDelayMs = 300L
  /** Dedup watermark delay: odd, while event times are even. */
  val WatermarkMs = 1001L
  /** Late events trail by about two batches (a batch spans about 2 s). */
  val LateDelayMs = 4000L
  val LateShare = 0.03
  val RedeliveryShare = 0.03
}
