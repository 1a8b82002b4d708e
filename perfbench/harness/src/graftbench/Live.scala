package graftbench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.catalog.MetricGlob
import graft.streaming.Ingest

/** Seeded line-protocol generator: batch `k` holds `lines` lines over 750
  * metrics (`<event_type>.<user>`), timestamps in event-time order inside
  * the 10-minute slice `[k*600, (k+1)*600)` s after 2024-01-01, and exactly
  * one malformed line in 50, cycling through the receiver's reject kinds. */
final class LineGen(seed: Long, lines: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  val metrics: IndexedSeq[String] = for {
    et <- Vector("click", "error", "purchase", "signup", "view")
    u <- 0 until 150
  } yield s"$et.$u"
  val SliceSec = 600L
  val StartSec = 1704067200L
  private val bad = Vector("lonely.metric 1.5", "error.3 notanumber 1704067200",
    "view.9 2.5 99999999999999", "", "a b c d")

  /** (lines, accepted count, max accepted epoch second) for batch `k`. */
  def batch(k: Int): (Seq[String], Int, Long) = {
    val lo = StartSec + k * SliceSec
    val secs = Array.fill(lines)(lo + rnd.nextLong(SliceSec)).sorted
    var good = 0
    val out = secs.indices.map { i =>
      if (i % 50 == 7) bad((k + i / 50) % bad.size)
      else {
        good += 1
        val v = rnd.nextInt(100000) / 100.0
        s"${metrics(rnd.nextInt(metrics.size))} $v ${secs(i)}"
      }
    }
    (out, good, secs.indices.filter(_ % 50 != 7).map(secs(_)).max)
  }
}

/** The ingest path under test: MemoryStream text → `Ingest.parseLines` →
  * foreachBatch that appends the raw points and then runs
  * `Ingest.liveRollupWriter` (hourly partials + frontier advance). The
  * writer is closed loop: `commit` adds one batch and returns when that
  * batch's foreachBatch has finished. */
final class LivePipeline(spark: SparkSession, dir: String, gen: LineGen) {
  val rawPath = s"$dir/raw"
  val rollupDir = s"$dir/rollup"
  /** max committed event time + 1 µs: the frontier graft advances to */
  val frontier = new AtomicLong(Long.MinValue)
  @volatile var accepted = 0L
  @volatile var sent = 0L
  private val done = new ConcurrentHashMap[Long, CountDownLatch]()
  @volatile private var current: (String, Long) = ("", 0L)
  @volatile var batchStart = 0L

  private val mem = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[String](spark.implicits.newStringEncoder, sq)
  }

  private val live = Ingest.liveRollupWriter(spark, rawPath, rollupDir)
  val query: StreamingQuery = Ingest.parseLines(mem.toDF())
    .writeStream
    .option("checkpointLocation", s"$dir/checkpoint")
    .foreachBatch { (b: DataFrame, id: Long) =>
      val (opId, maxUs) = current
      spark.sparkContext.setJobGroup(opId, "commit", interruptOnCancel = false)
      batchStart = System.currentTimeMillis()
      b.write.mode("append").parquet(rawPath)
      live(b, id)
      if (maxUs > frontier.get) frontier.set(maxUs)
      spark.sparkContext.clearJobGroup()
      Option(done.get(maxUs)).foreach(_.countDown())
    }.start()

  /** Add batch `k` and wait for it to commit. */
  def commit(k: Int, opId: String): Unit = {
    val (lines, good, maxSec) = gen.batch(k)
    val maxUs = maxSec * 1000000L + 1L
    val latch = new CountDownLatch(1)
    done.put(maxUs, latch)
    current = (opId, maxUs)
    mem.addData(lines)
    latch.await()
    done.remove(maxUs)
    sent += lines.size
    accepted += good
  }

  def stop(): Unit = query.stop()
}

object Live {
  val Globs: IndexedSeq[String] = Vector("click.*", "*.1?", "{view,purchase}.4[0-9]",
    "error.7", "signup.{1,2,3}", "*.12[0-4]", "view.?", "purchase.*")
  val WindowsH: IndexedSeq[Long] = Vector(6L, 24L, 72L)
  val WarmupWindowsH: IndexedSeq[Long] = Vector(2L, 12L)

  /** The hourly glob aggregate a dashboard issues over the live table;
    * `RollupRouteRule` serves its complete buckets from the rollup. */
  def read(spark: SparkSession, rawPath: String, glob: String, loUs: Long,
      hiUs: Long): DataFrame =
    spark.read.parquet(rawPath)
      .where(MetricGlob.predicate(col("metric"), glob) &&
        col("ts") >= lit(micros(loUs)) && col("ts") < lit(micros(hiUs)))
      .groupBy(col("metric"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("metric", "bucket")

  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
