package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.catalog.{RollupRouter, SchemaCatalog}

/** JVM side of the graft benchmark. Modes:
  *
  *   run <workload> --seed n --seconds s --trace 0|1 --data d --work w --out f
  *   setup <workload> --seed n --data d --work w --out f
  *                                 one cold set-up, its seconds to `--out`
  *   oracles <file>                dump the `SparkEntry.oracleSql` texts of
  *                                 the render_mix panels as JSON
  *
  * `run` writes one JSON document to `--out` (its cold set-up time, every
  * op, the first result of every distinct request, per-layer metrics when
  * traced); `run.py` turns it into the benchmark's metrics and checks the
  * results. */
object Main {
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.head match {
    case "oracles" =>
      val ora = SparkEntry.oracleSql
      val body = Runner.PanelPool.filter(ora.contains)
        .map(q => Canon.str(q) + ":" + Canon.str(ora(q))).mkString("{", ",\n", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), body)
    case mode @ ("run" | "setup") =>
      val opts = args.drop(2).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
      val r = new Runner(args(1), opts("seed").toLong, opts.getOrElse("seconds", "0").toDouble,
        opts.getOrElse("trace", "0") == "1", opts("data"), opts("work"), opts("out"))
      if (mode == "run") r.run() else r.setupOnly()
  }
}

/** Render/panel/query specs drawn from the seeded request stream. */
sealed trait Req { def key: String }
final case class Render(glob: String, fromS: Long, untilS: Long) extends Req {
  def key = s"render|$glob|$fromS|$untilS"
}
final case class Panel(q: String) extends Req { def key = s"q|$q" }

final class Runner(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String) {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val rnd = new java.util.SplittableRandom(seed)
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val firstHash = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val opSeq = new AtomicInteger(0)
  private val extra = mutable.LinkedHashMap.empty[String, String]
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val tracedWallMs = new AtomicLong(0L)

  // ---- setup ---------------------------------------------------------
  private var points: DataFrame = _
  private var pipeline: LivePipeline = _

  /** Everything a user pays from process start before the first request
    * can be served, in seconds: the JVM, the session (graft's extensions
    * and functions) and the workload's own readiness — for renders the
    * projected points relation and its first scan of the fact table, for
    * ingest a running ingest query. */
  private def setup(): Double = {
    spark = Main.session(work)
    workload match {
      case "render_mix" =>
        points = graft.io.Tables.events(spark, data).select(
          concat_ws(".", col("event_type"), (col("user_id") % 150).cast("string"))
            .as("metric"), col("ts"), col("value"))
        points.agg(count(lit(1)), max(col("ts"))).collect()
      case "ingest_live" =>
        pipeline = new LivePipeline(spark, s"$work/live",
          new LineGen(seed, Runner.IngestLines))
    }
    (System.currentTimeMillis() - jvmStart) / 1000.0
  }

  /** `setup` mode: one cold set-up, then a clean stop. */
  def setupOnly(): Unit = {
    val s = setup()
    pipelineStop()
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), s.toString)
  }

  // ---- ops -----------------------------------------------------------
  private def nextOpId(kind: String) = s"$kind-${opSeq.incrementAndGet()}"

  private val seenShapes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One timed request: build the DataFrame, collect() it, then (outside
    * the timed span) canonicalize and compare with the key's first result.
    * `first` marks the first request of its `shape` (default: its key). */
  private def timedOp(kind: String, key: String, shape: String = null, pass: Int = 0)(
      build: => DataFrame): Op = {
    val id = nextOpId(kind)
    val sc = spark.sparkContext
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val traced = trace && tracer.enabled
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var wb = w0; var nb = n0
    val (rows, schema, err) = try {
      val df = build
      wb = System.currentTimeMillis(); nb = System.nanoTime()
      (df.collect(), df.schema, "")
    } catch { case e: Throwable =>
      (Array.empty[org.apache.spark.sql.Row], null, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
    sc.clearJobGroup()
    var ok = err.isEmpty
    var e = err
    var hash = ""
    val sh = if (shape == null) key else shape
    val first = seenShapes.add(sh)
    if (ok) {
      val canon = Canon.result(rows, schema)
      hash = Canon.sha256(canon)
      val prev = firstHash.putIfAbsent(key, hash)
      if (prev == null) results.put(key, canon)
      else if (prev != hash) { ok = false; e = "result differs from the first run of this request" }
    }
    val op = Op(id, kind, key, sh, first, w0, wb, w1, (n1 - n0) / 1e6, (nb - n0) / 1e6,
      ok, e, rows.length, hash, traced, pass)
    ops.add(op)
    op
  }

  // ---- tracing ---------------------------------------------------------
  private var tracedSince = 0L

  /** Tracing on or off (traced runs only), switched only while no op is in
    * flight. Before the listeners go, the listener bus gets a moment to
    * deliver the last traced op's events. */
  private def setTracing(on: Boolean): Unit = if (trace && on != tracer.enabled) {
    if (on) { tracedSince = System.currentTimeMillis(); tracer.start() }
    else {
      tracedWallMs.addAndGet(System.currentTimeMillis() - tracedSince)
      Thread.sleep(Runner.ListenerDrainMs)
      tracer.stop()
    }
  }

  // ---- workloads -------------------------------------------------------
  private def issue(r: Req, kind: String, pass: Int = 0): Op = r match {
    case x @ Render(g, f, u) => timedOp(kind, x.key, pass = pass)(
      RollupRouter.fetchSeries(points, SchemaCatalog.Default, g, f, u))
    case p @ Panel(q) => timedOp(kind, p.key, pass = pass)(SparkEntry.queries(q)(spark, data))
  }

  /** One closed-loop client issues a fixed request list. Traced runs issue
    * it twice, tracing the odd positions of the first pass and the even
    * ones of the second, so every request runs once traced and once
    * untraced and the tracing overhead compares the same requests. */
  private def renderMix(): Unit = {
    // warm-up (JIT, codegen) on requests the measured stream never issues
    Runner.warmupStream(rnd).foreach(issue(_, "warmup"))
    note("warm-up done")
    val stream = Runner.renderStream(rnd, Runner.renderRounds(seconds))
    def kind(r: Req) = r match { case _: Render => "render"; case _ => "panel" }
    (0 until (if (trace) 2 else 1)).foreach { pass =>
      stream.zipWithIndex.foreach { case (r, i) =>
        setTracing((i + pass) % 2 == 1)
        issue(r, kind(r), pass)
      }
    }
    setTracing(false)
  }

  /** One writer commits a fixed number of batches; beside each commit one
    * reader issues a fixed number of routed reads, bounded by the frontier
    * committed before it, and the next batch starts when both are done.
    * Traced runs trace the middle two quarters of the batches (untraced,
    * traced, traced, untraced), so a steady drift as the live tables grow
    * does not bias the overhead. */
  private def ingest(): Unit = {
    val p = pipeline
    val routed = new AtomicInteger(0); val reads = new AtomicInteger(0)
    val readSpecs = new ConcurrentLinkedQueue[String]()
    def writeOne(b: Int, warm: Boolean): Unit = {
      val kind = if (warm) "warmup" else "commit"
      val id = nextOpId(kind)
      val traced = trace && tracer.enabled
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      p.commit(b, id)
      val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
      ops.add(Op(id, kind, s"commit|$b", s"commit|$b", first = true, w0,
        math.max(w0, p.batchStart), w1, (n1 - n0) / 1e6, 0.0, ok = true, "",
        Runner.IngestLines, "", traced))
    }
    def readOne(hi: Long, warm: Boolean): Unit = {
      val glob = Live.Globs(rnd.nextInt(Live.Globs.size))
      val windows = if (warm) Live.WarmupWindowsH else Live.WindowsH
      val wh = windows(rnd.nextInt(windows.size))
      val lo = hi - wh * 3600L * 1000000L
      val key = s"read|$glob|$lo|$hi"
      var df: DataFrame = null
      val op = timedOp(if (warm) "warmup" else "read", key, s"$glob|$wh") {
        df = Live.read(spark, p.rawPath, glob, lo, hi); df
      }
      if (!warm) {
        if (df != null && op.ok &&
            df.queryExecution.executedPlan.toString.contains(p.rollupDir))
          routed.incrementAndGet()
        reads.incrementAndGet()
        readSpecs.add(s"""{"key":${Canon.str(key)},"glob":${Canon.str(glob)},"lo":$lo,"hi":$hi}""")
      }
    }
    def phase(batches: Range, warm: Boolean): Unit = {
      batches.foreach { b =>
        if (!warm) {
          val quarter = (b - batches.start) * 4 / batches.size
          setTracing(quarter == 1 || quarter == 2)
        }
        // the reads see the frontier of the batches committed so far
        val hi = p.frontier.get
        val rd = new Thread(() => (0 until Runner.ReadsPerBatch).foreach(_ => readOne(hi, warm)))
        rd.start()
        writeOne(b, warm)
        rd.join()
      }
      setTracing(false)
    }
    // warm-up: the raw table and the rollup registration exist before the
    // reader starts, then both sides run unmeasured for a few batches
    (0 until 2).foreach(writeOne(_, warm = true))
    val first = 2 + Runner.IngestWarmupBatches
    phase(2 until first, warm = true)
    note("warm-up done")
    val acc0 = p.accepted; val sent0 = p.sent
    phase(first until first + Runner.ingestBatches(seconds), warm = false)
    extra("ingest") =
      s"""{"raw":${Canon.str(p.rawPath)},"rollup":${Canon.str(p.rollupDir)},""" +
        s""""accepted":${p.accepted - acc0},"sent":${p.sent - sent0},""" +
        s""""accepted_total":${p.accepted},"routed":${routed.get},"reads":${reads.get},""" +
        s""""read_specs":${readSpecs.asScala.mkString("[", ",", "]")}}"""
  }

  /** Traced runs of render_mix end with a short ingest probe (a few
    * batches through the same pipeline), so every traced run shows the
    * streaming layer. */
  private def streamProbe(): Unit = {
    setTracing(true)
    val p = new LivePipeline(spark, s"$work/probe", new LineGen(seed, Runner.ProbeLines))
    (0 until Runner.ProbeBatches).foreach { k =>
      val id = nextOpId("probe")
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      p.commit(k, id)
      ops.add(Op(id, "probe", s"probe|$k", s"probe|$k", first = true, w0, math.max(w0, p.batchStart),
        System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6, 0.0, ok = true, "",
        Runner.ProbeLines, "", traced = true))
    }
    p.stop()
    setTracing(false)
    graft.plans.RollupCatalog.clear()
    extra("probe") = s"""{"raw":${Canon.str(p.rawPath)},"rollup":${Canon.str(p.rollupDir)},""" +
      s""""accepted":${p.accepted},"sent":${p.sent}}"""
  }

  // ---- heap ------------------------------------------------------------
  /** Heap still in use after a full collection, in MB. The second
    * collection runs after Spark's ContextCleaner has had a moment to drop
    * the blocks of RDDs the first one found unreachable. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def note(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $msg")

  def run(): Unit = {
    val setupS = setup()
    tracer = new Tracer(spark)
    val heapSetup = liveHeapMb()
    note(s"setup done in $setupS s")
    if (workload == "render_mix") renderMix() else ingest()
    note("measured ops done")
    val heapEnd = liveHeapMb()
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      // the probe's commits feed the streaming metrics, not the per-op ones
      val wallMs = tracedWallMs.get.toDouble
      val measured = ops.asScala.toSeq.filter(o => o.traced && o.kind != "warmup")
      if (workload == "render_mix") streamProbe()
      val traced = ops.asScala.toSeq.filter(o => o.traced && o.kind != "warmup")
      layers ++= tracer.layerMetrics(measured, wallMs, Main.Cpus)
      layers ++= tracer.streamMetrics
      layers("storage.resident_mb_end") =
        storage.map(r => r.memSize + r.diskSize).sum / 1048576.0
      layers("storage.rdds_end") = storage.length.toDouble
      val spans = new java.io.PrintWriter(s"$work/spans.jsonl")
      try tracer.spansJson(traced).foreach(spans.println) finally spans.close()
    }
    pipelineStop()
    note("trace and teardown done")
    val opsSeq = ops.asScala.toSeq.filter(_.kind != "warmup")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.print("{\"workload\":" + Canon.str(workload))
      w.print(",\"cpus\":" + Main.Cpus)
      w.print(",\"setup_s\":" + setupS)
      w.print(",\"heap_live_mb\":[" + heapSetup + "," + heapEnd + "]")
      w.print(",\"layers\":{" + layers.map { case (k, v) => Canon.str(k) + ":" + v }.mkString(",") + "}")
      extra.foreach { case (k, v) => w.print("," + Canon.str(k) + ":" + v) }
      w.print(",\"ops\":[")
      w.print(opsSeq.map(o =>
        s"""{"id":"${o.id}","kind":"${o.kind}","key":${Canon.str(o.key)},""" +
          s""""shape":${Canon.str(o.shape)},"first":${o.first},""" +
          s""""pass":${o.pass},"lat_ms":${o.latMs},"build_ms":${o.buildMs},"ok":${o.ok},""" +
          s""""err":${Canon.str(o.err)},"rows":${o.rows},"hash":"${o.hash}",""" +
          s""""traced":${o.traced}}""")
        .mkString(",\n"))
      w.print("],\"results\":{")
      w.print(results.asScala.toSeq.sortBy(_._1).map { case (k, v) => Canon.str(k) + ":" + v }
        .mkString(",\n"))
      w.print("}}")
    } finally w.close()
    spark.stop()
  }

  private def pipelineStop(): Unit =
    if (pipeline != null) { pipeline.stop(); pipeline = null }
}

object Runner {
  /** Lines per ingest micro-batch (see README.md for the mix's sources). */
  val IngestLines = 20000
  val IngestWarmupBatches = 2
  val ReadsPerBatch = 2
  val ProbeLines = 2000
  val ProbeBatches = 5
  val ListenerDrainMs = 300L

  /** Requests of one render_mix round: its 6 render shapes and 6 panels. */
  val RoundSize = 12
  /** Seconds of one round on 4 vCPUs (about 0.55 s a request). */
  val RoundSeconds = 6.5
  /** Seconds of one 20k-line commit beside the reader on 4 vCPUs. */
  val BatchSeconds = 1.75

  /** Whole rounds for a run asked to measure `seconds`: the op mix is
    * fixed by `seconds` and the seed, never by how fast the host is. */
  def renderRounds(seconds: Double): Int = math.max(1, math.round(seconds / RoundSeconds).toInt)
  /** Measured ingest batches for a run asked to measure `seconds`. */
  def ingestBatches(seconds: Double): Int = math.max(4, math.round(seconds / BatchSeconds).toInt)

  /** The dashboard panels by popularity rank: declared `q_ts_*` reads,
    * each a single-digit number of Spark jobs. */
  val PanelPool: IndexedSeq[String] = Vector(
    "q_ts_dashboard", "q_ts_rollup_avg", "q_ts_glob_fetch",
    "q_ts_moving_avg", "q_ts_fetch_routed", "q_ts_xff", "q_ts_hitcount",
    "q_ts_consolidate", "q_ts_aspercent", "q_ts_derivative", "q_ts_pctl_of_series",
    "q_ts_max_series", "q_ts_alias_bynode", "q_ts_anomaly", "q_ts_bollinger",
    "q_ts_fetch_bounded", "q_ts_groupbynode", "q_ts_retention", "q_ts_lttb",
    "q_ts_integral", "q_ts_most_deviant", "q_ts_rollup_minmax", "q_ts_cache_merge",
    "q_ts_burn_rate")

  /** Declared panels outside the pool, for the warm-up only. */
  val WarmPanels: IndexedSeq[String] = Vector("q_ts_changed", "q_ts_delay",
    "q_ts_persecond", "q_ts_offset_zero")

  /** Panel requests per pool rank when `n` panels are requested: Zipf
    * (s = 1) shares n / (k * H_P), rounded by largest remainder so they sum
    * to n. The head repeats and warms the memos; ranks with a share below
    * one are touched once, or not at all. */
  def zipfQuota(n: Int, pool: Int): IndexedSeq[Int] = {
    val h = (1 to pool).map(1.0 / _).sum
    val exact = (1 to pool).map(k => n / (k * h))
    val base = exact.map(x => math.floor(x).toInt)
    val up = exact.indices.sortBy(i => base(i) - exact(i)).take(n - base.sum).toSet
    base.indices.map(i => base(i) + (if (up(i)) 1 else 0))
  }

  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val H = 3600L
  private val D = 86400L

  /** A glob of one of Graphite's forms — exact, `*`, `?`, `{a,b}`,
    * `[..]` — over the 750 `<event_type>.<user>` series, names seeded. */
  def randomGlob(form: Int, r: java.util.SplittableRandom): String = {
    def et = EventTypes(r.nextInt(5))
    form match {
      case 0 => s"$et.${r.nextInt(150)}"
      case 1 => s"$et.*"
      case 2 => s"*.${r.nextInt(150)}"
      case 3 => s"$et.${r.nextInt(15)}?"
      case 4 =>
        val a = r.nextInt(5)
        s"{${EventTypes(a)},${EventTypes((a + 1 + r.nextInt(4)) % 5)}}" +
          s".{${r.nextInt(150)},${r.nextInt(150)},${r.nextInt(150)}}"
      case _ => s"$et.${1 + r.nextInt(9)}[0-${r.nextInt(10)}]"
    }
  }

  /** The render shapes of one round: (glob form, from, until), each glob
    * form once. Windows run from 1 h to 40 d, so every
    * `SchemaCatalog.Default` archive (1 min for a day, 1 h for 30 d, 1 d
    * beyond) gets selected. */
  private val RenderShapes: IndexedSeq[(Int, Long, Long)] = Vector(
    (0, H, 0L), (3, 6 * H, 0L), (4, D, H), (1, 3 * D, 0L), (5, 10 * D, 0L),
    (2, 40 * D, H))

  /** `rounds` x 6 renders, one of each shape per round (series names
    * seeded), and as many panels with Zipf quotas over the pool, shuffled by
    * the seed. The seed picks series and order; the mix of work is the
    * same on every seed. */
  def renderStream(r: java.util.SplittableRandom, rounds: Int): IndexedSeq[Req] = {
    val renders = (0 until rounds).flatMap(_ => RenderShapes.map { case (f, from, until) =>
      Render(randomGlob(f, r), from, until)
    })
    val quota = zipfQuota(rounds * (RoundSize - RenderShapes.size), PanelPool.size)
    val panels = PanelPool.indices.flatMap(i => Seq.fill(quota(i))(Panel(PanelPool(i))))
    shuffle(renders ++ panels, r)
  }

  /** Eight requests: renders over 2 d and 5 d windows (no measured shape
    * uses them) and the panels outside the pool. */
  def warmupStream(r: java.util.SplittableRandom): IndexedSeq[Req] =
    WarmPanels.flatMap(q => Seq(
      Render(randomGlob(r.nextInt(6), r), if (r.nextBoolean()) 2 * D else 5 * D, 0L), Panel(q)))

  def shuffle[T](xs: IndexedSeq[T], r: java.util.SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
