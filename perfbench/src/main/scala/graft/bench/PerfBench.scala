package graft.bench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, GenEdge, Graft, SparkEntry, Transients}
import graft.ingest.{AirQualitySchema, IngestPipeline, SchemaVerifier, ZipEntrySplits, ZipSource}

/** The benchmark's JVM side: one workload, one seed, one closed loop.
  *
  *   setup (x `setups`, median reported): corpus, session, small warm-up
  *   check pass (untimed): every operation once, outputs verified
  *   two warm-up passes (not reported), then timed passes until `seconds`
  *     elapse: the operations in a seeded order,
  *     one at a time; hygiene between them stays outside the timed spans
  *
  * With `trace`, passes alternate untraced/traced: the traced ones carry
  * listeners and spans and give the per-layer metrics, and the ratio of
  * the two medians is the tracing overhead. Results go to `--out` as JSON;
  * `perfbench/run.py` prints them. */
object PerfBench {

  final case class Opts(kind: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, sfDir: String, ops: Seq[String], rows: Int,
                        archives: Int, entries: Int, setups: Int, work: File,
                        out: File, spans: File, pins: Map[String, String],
                        recordPins: Boolean)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def pins(path: String): Map[String, String] =
      if (path.isEmpty || !new File(path).exists) Map.empty
      else scala.io.Source.fromFile(path).getLines().map(_.split("\t"))
        .collect { case Array(k, v) => k -> v }.toMap
    Opts(kind = m("kind"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m("trace") == "1", cpus = m("cpus").toInt,
      // a testdata scale under the engine's own testdata root
      sfDir = m.get("sf").map(new File(GenEdge.TestdataRoot, _).getPath).getOrElse(""),
      ops = m.getOrElse("ops", "").split(",").filter(_.nonEmpty).toSeq,
      rows = m.getOrElse("rows", "0").toInt, archives = m.getOrElse("archives", "1").toInt,
      entries = m.getOrElse("entries", "1").toInt, setups = m.getOrElse("setups", "3").toInt,
      work = new File(m("work")), out = new File(m("out")), spans = new File(m("spans")),
      pins = pins(m.getOrElse("pins", "")), recordPins = m.getOrElse("record-pins", "0") == "1")
  }

  private def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
  }
  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length
  /** The middle value, or the mean of the two middle values. */
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The setup's warm-up: one small job through the CSV reader and a
    * shuffle, so executor threads and codegen exist before the check pass
    * (which does the real warming, untimed). */
  private def warmUp(s: SparkSession): Unit = {
    import s.implicits._
    noop(s.read.option("header", "true").option("inferSchema", "true")
      .csv(Seq("a,b", "1,x", "2,y").toDS()).groupBy("b").count())
  }

  /** A workload: what one setup builds, and how each operation runs. */
  private abstract class Workload(val o: Opts, val tr: Tracer) {
    var spark: SparkSession = _
    /** MB of input one pass consumes; the base of `ingest_mb_s`. */
    def inputMb: Double
    def ops: Seq[String]
    def prepare(setupDir: File): Unit
    /** The timed part of one operation. */
    def run(op: String, passDir: File): Unit
    /** Untimed hygiene before one operation. */
    def before(op: String): Unit = ()
    /** Untimed hygiene after one operation, on success and on failure. */
    def after(op: String, passDir: File): Unit
    /** Untimed correctness check of one operation; returns the problems. */
    def check(op: String, passDir: File): Seq[String]
    /** Workload-specific per-layer readings of the current pass. */
    val passLayers = scala.collection.mutable.Map.empty[String, Double]
  }

  private final class Queries(o: Opts, tr: Tracer) extends Workload(o, tr) {
    private val registry = SparkEntry.queries
    private val gc = new Graft.GcNudge()
    val found = ArrayBuffer.empty[(String, String)]
    lazy val inputMb: Double = du(new File(o.sfDir)) / 1e6
    def ops: Seq[String] = o.ops
    def prepare(setupDir: File): Unit = {
      val missing = o.ops.filterNot(registry.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
      require(new File(o.sfDir).isDirectory, s"no testdata at ${o.sfDir}")
    }
    /** Evicts the engine's session caches (co-order edges, dedup pairs,
      * corpus counts) before every query, not only before the producers in
      * `Bench.cacheProducers`: a consumer such as q175 would otherwise build
      * a cache in the check pass and then time only its cheap remainder. */
    override def before(op: String): Unit = {
      Bench.evictCaches(spark)
      gc.maybe()
    }
    def run(op: String, passDir: File): Unit = {
      val df = tr.span("ops.build")(registry(op)(spark, o.sfDir))
      tr.span("ops.execute")(noop(df))
    }
    def after(op: String, passDir: File): Unit =
      tr.span("transients.drop")(Transients.drop(spark))
    def check(op: String, passDir: File): Seq[String] = {
      before(op)
      try {
        val df = registry(op)(spark, o.sfDir)
        val h = xxhash64(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)))
        val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).head()
        val fp = s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
        found += ((op, fp))
        o.pins.get(op) match {
          case Some(p) if p == fp => Nil
          case Some(p) => Seq(s"$op: fingerprint $fp, pinned $p")
          case None if o.recordPins => Nil
          case None => Seq(s"$op: no pinned fingerprint for ${o.sfDir}")
        }
      } finally Transients.drop(spark)
    }
  }

  /** The paper's pipeline over one seeded corpus in two archive shapes:
    * `ingest_one_entry` hands one single-entry zip to IngestPipeline.run
    * (ZipExtract to a local file, local CSV read); `ingest_many_entries` lists and
    * expands many multi-entry archives with the distributed zip readers.
    * Both verify, project and write one Parquet file. */
  private final class Ingest(o: Opts, tr: Tracer) extends Workload(o, tr) {
    private val shapes = Seq(Shape("one_entry", 1, 1), Shape("many_entries", o.archives, o.entries))
    var corpus: Corpus = _
    def csvBytes: Long = corpus.csvBytes.values.sum
    def inputMb: Double = csvBytes / 1e6
    def ops: Seq[String] = shapes.map("ingest_" + _.name)
    def prepare(setupDir: File): Unit =
      corpus = Corpus.generate(setupDir, o.seed, o.rows, shapes)
    private def outDir(passDir: File) = new File(passDir, "out.parquet")
    private def add(k: String, v: Double): Unit = passLayers(k) = passLayers.getOrElse(k, 0.0) + v
    def run(op: String, passDir: File): Unit = {
      val out = outDir(passDir).getAbsolutePath
      if (op == "ingest_many_entries") {
        val glob = corpus.glob("many_entries")
        val splits = tr.span("ingest.list")(ZipEntrySplits.listEntries(spark, glob))
        add("ingest.entries", splits.size)
        write(tr.span("ingest.expand")(ZipSource.expandCsv(spark, glob)), out)
      } else {
        // a fresh CSV path per operation: ensureCsv would otherwise take
        // the warm short-circuit and skip extraction after the first pass
        val conf = IngestPipeline.Config(new File(passDir, "air_quality.csv").getAbsolutePath,
          Some(corpus.zips("one_entry").head.getAbsolutePath), out)
        if (!tr.active) IngestPipeline.run(spark, conf)
        else {
          // IngestPipeline.run, one public call per span
          tr.span("ingest.inflate")(IngestPipeline.ensureCsv(conf))
          add("ingest.inflate_mb", new File(conf.csvPath).length / 1e6)
          write(tr.span("ingest.infer")(IngestPipeline.readCsv(spark, conf.csvPath)), out)
        }
      }
    }
    private def write(df: DataFrame, out: String): Unit = {
      tr.span("ingest.verify")(SchemaVerifier.verify(df))
      val projected = tr.span("ingest.project")(IngestPipeline.project(df))
      tr.span("ingest.write")(projected.coalesce(1).write.mode("overwrite").parquet(out))
    }
    def after(op: String, passDir: File): Unit = {
      add("ingest.out_bytes_ratio", du(outDir(passDir)).toDouble / csvBytes)
      if (op == "ingest_many_entries") spark.catalog.clearCache()
      rmrf(passDir)
    }
    def check(op: String, passDir: File): Seq[String] = {
      run(op, passDir)
      val out = outDir(passDir)
      val parts = Option(out.listFiles()).getOrElse(Array.empty[File])
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val df = spark.read.parquet(out.getAbsolutePath)
      val r = df.selectExpr("count(1)" +: Corpus.checksumColumns.map(_._2): _*).head()
      val problems = ArrayBuffer.empty[String]
      if (parts != 1) problems += s"$op: $parts part files, expected 1"
      if (df.columns.toSeq != AirQualitySchema.projectedColumns)
        problems += s"$op: columns ${df.columns.mkString(",")}"
      if (r.getLong(0) != corpus.rows) problems += s"$op: ${r.getLong(0)} rows, expected ${corpus.rows}"
      Corpus.checksumColumns.zipWithIndex.foreach { case ((c, _), i) =>
        val got = r.get(i + 1)
        val want = corpus.checksums(c)
        if (got == null || got.asInstanceOf[Number].longValue != want)
          problems += s"$op: column $c checksum $got, expected $want"
      }
      problems.toSeq
    }
  }

  private def session(o: Opts): SparkSession = {
    val local = new File(o.work, "spark-local"); local.mkdirs()
    val s = Graft.sessionBuilder(s"local[${o.cpus}]", o.cpus)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Same workload as `Bench.calibrationProbe` (pure-CPU hashing plus one
    * small shuffle), timed here so a contended run labels itself. */
  private def calibrationProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    noop(spark.range(0, 24_000_000L, 1, 32)
      .select(xxhash64(col("id"), lit("probe_a")).as("h1"),
        pmod(xxhash64(col("id"), lit("probe_b")), lit(1_000_000L)).as("h2"))
      .groupBy(pmod(col("h1"), lit(512)).as("k"))
      .agg(sum(col("h2")).as("s"), count(lit(1)).as("n")))
    secondsSince(t0)
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    o.work.mkdirs()
    val tr = new Tracer
    val wl: Workload = o.kind match {
      case "queries" => new Queries(o, tr)
      case "ingest" => new Ingest(o, tr)
      case k => throw new IllegalArgumentException(s"unknown workload kind $k")
    }

    // ---- setup, several times; the median is setup_s
    val setupTimes = (0 until o.setups).map { i =>
      if (wl.spark != null) {
        wl.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val dir = new File(o.work, s"corpus_$i")
      val t0 = System.nanoTime()
      wl.prepare(dir)
      val t1 = System.nanoTime()
      wl.spark = session(o)
      val t2 = System.nanoTime()
      warmUp(wl.spark)
      val t = secondsSince(t0)
      System.err.println(f"[setup $i] corpus ${(t1 - t0) / 1e9}%.2f s, " +
        f"session ${(t2 - t1) / 1e9}%.2f s, warm-up ${secondsSince(t2)}%.2f s")
      if (i > 0) rmrf(new File(o.work, s"corpus_${i - 1}"))
      t
    }
    val spark = wl.spark

    val uptime = () => java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val marks = ArrayBuffer("setup_end" -> uptime())
    // ---- check pass: every operation once, untimed
    val problems = ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0
    wl.ops.foreach { op =>
      attempted += 1
      val dir = new File(o.work, s"check_$op")
      try {
        val p = wl.check(op, dir)
        if (p.nonEmpty) failed += 1
        problems ++= p
      } catch {
        case e: Throwable =>
          failed += 1
          problems += s"$op: check failed: ${e.getMessage}"
      } finally wl.after(op, dir)
    }

    marks += "check_end" -> uptime()
    // ---- timed passes
    val counters = new ExecCounters
    val phases = new PlanPhases
    final case class Pass(traced: Boolean, seconds: Double, opSeconds: Seq[Double],
                          cpu: Double, layers: Map[String, Double],
                          opLayers: Map[String, Map[String, Double]])
    val passes = ArrayBuffer.empty[Pass]
    var tLoop = System.nanoTime()
    var p = 0
    // passes 0 and 1 only warm up: after the check pass and one warm-up
    // pass, the next pass still ran ~15% slower than later ones (JIT)
    val warmUps = 2
    val minPasses = warmUps + (if (o.trace) 2 else 1)
    while (p < minPasses || secondsSince(tLoop) < o.seconds) {
      val traced = o.trace && p >= warmUps && (p - warmUps) % 2 == 1
      val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(wl.ops)
      if (traced) {
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(phases)
      }
      val plan0 = phases.snapshot
      wl.passLayers.clear()
      tr.active = traced
      tr.beginPass(p)
      var cpu = 0.0
      var steal = 0.0
      // traced passes only: the bus is drained after every operation, so
      // each operation's counters are exact deltas (outside the timed span)
      val opExec = scala.collection.mutable.Map.empty[String, Map[String, Double]]
      val timed = order.map { op =>
        val dir = new File(o.work, s"pass_${p}_$op")
        tr.setOp(op)
        wl.before(op)
        attempted += 1
        val exec0 = if (!traced) Map.empty[String, Double] else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          counters.snapshot
        }
        val (c0, s0) = (Host.cpuSeconds, Host.stealSeconds)
        val t0 = System.nanoTime()
        val dt = try {
          tr.span("op")(wl.run(op, dir))
          secondsSince(t0)
        } catch {
          case e: Throwable =>
            failed += 1
            problems += s"$op: pass $p failed: ${e.getMessage}"
            secondsSince(t0)
        } finally {
          cpu += Host.cpuSeconds - c0
          steal += Host.stealSeconds - s0
          try wl.after(op, dir) catch { case e: Throwable =>
            problems += s"$op: cleanup failed: ${e.getMessage}" }
        }
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          opExec(op) = counters.snapshot.map { case (k, v) => k -> (v - exec0(k)) }
        }
        op -> dt
      }.toMap
      val opTimes = wl.ops.map(timed)
      tr.active = false
      val (layers, opLayers) = if (!traced) (wl.passLayers.toMap, Map.empty[String, Map[String, Double]]) else {
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(phases)
        val spans = tr.ofPass(p)
        def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
        val exec = wl.ops.flatMap(opExec.get).flatten.groupMapReduce(_._1)(_._2)(_ + _)
        val plan = phases.snapshot.map { case (k, v) => k -> (v - plan0(k)) }
        // per operation: its counters, its wall time and its spans' times
        val opLayers = wl.ops.map { op => op -> (opExec(op) + ("op_s" -> timed(op)) ++
          spans.filter(s => s.op == op && s.name != "op")
            .groupMapReduce(_.name + "_s")(_.seconds)(_ + _)) }.toMap
        val layers = exec ++ plan ++ wl.passLayers ++ Map(
          "ingest.inflate_s" -> total("ingest.inflate"),
          "ingest.list_s" -> total("ingest.list"),
          "ingest.expand_s" -> total("ingest.expand"),
          "ingest.infer_s" -> total("ingest.infer"),
          "ingest.verify_s" -> total("ingest.verify"),
          "ingest.project_s" -> total("ingest.project"),
          "ingest.write_s" -> total("ingest.write"),
          "ingest.write_tasks" -> spans.filter(_.name == "ingest.write")
            .map(s => counters.stageTasksBetween(s.startMs, s.endMs)).sum.toDouble,
          // bytes the single-entry run reads, over its CSV bytes: the
          // schema inference pass plus the write's parse pass
          "ingest.csv_passes" -> (wl match {
            case i: Ingest => opExec("ingest_one_entry")("exec.input_mb") * 1e6 / i.corpus.csvBytes("one_entry")
            case _ => 0.0
          }),
          "ops.build_s" -> total("ops.build"),
          "ops.build_jobs" -> spans.filter(_.name == "ops.build")
            .map(s => counters.jobsBetween(s.startMs, s.endMs)).sum.toDouble,
          "transients.drop_s" -> total("transients.drop"),
          "host.steal_s" -> steal)
        (layers, opLayers)
      }
      if (p < warmUps) tLoop = System.nanoTime()
      else passes += Pass(traced, opTimes.sum, opTimes, cpu, layers, opLayers)
      p += 1
    }
    marks += "loop_end" -> uptime()
    val probe = if (o.trace) calibrationProbe(spark) else 0.0
    val rss = Host.peakRssMb
    val heap = Host.heapPeakMb

    // ---- metrics
    val plain = passes.filterNot(_.traced).toSeq
    val opTimes = plain.flatMap(_.opSeconds)
    val passS = median(plain.map(_.seconds))
    val endToEnd = Seq(
      "setup_s" -> median(setupTimes),
      "pass_s" -> passS,
      "op_p50_s" -> median(opTimes),
      // a run has too few operations for a high percentile with ten samples
      // beyond it, so the tail is each pass's slowest operation, as a median
      "op_tail_s" -> median(plain.map(_.opSeconds.max)),
      "cpu_s" -> median(plain.map(_.cpu)),
      "ingest_mb_s" -> wl.inputMb / passS,
      "peak_rss_mb" -> rss)
    val traced = passes.filter(_.traced).toSeq
    // a layer the workload never enters reads 0 (ingest layers on the query
    // workloads, and the other way round)
    val layerNames = (traced.flatMap(_.layers.keys) ++ Seq("ingest.entries",
      "ingest.inflate_mb", "ingest.out_bytes_ratio")).distinct.sorted
    val perLayer = layerNames.map(n => n -> median(traced.map(_.layers.getOrElse(n, 0.0)))) ++
      Seq("streaming.batch_ms" -> median(counters.synchronized(counters.batchDurations.toSeq).map(_.toDouble)),
        "host.probe_s" -> probe,
        "jvm.heap_peak_mb" -> heap,
        "trace.overhead" -> (if (traced.isEmpty) 0.0 else median(traced.map(_.seconds)) / passS))
    val outRatio = median(plain.flatMap(_.layers.get("ingest.out_bytes_ratio")))
    val opLayers = wl.ops.map { op =>
      val rows = traced.flatMap(_.opLayers.get(op))
      op -> rows.flatMap(_.keys).distinct.sorted.map(k => k -> median(rows.map(_.getOrElse(k, 0.0))))
    }

    spark.stop()
    marks += "stopped" -> uptime()

    // ---- write results and spans
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    val info = Seq(
      "passes" -> plain.size.toString,
      "traced_passes" -> traced.size.toString,
      "ops_per_pass" -> wl.ops.size.toString,
      "op_samples" -> opTimes.size.toString,
      "op_tail" -> str(s"median over ${plain.size} passes of the slowest of ${wl.ops.size} operations"),
      "input_mb" -> num(wl.inputMb),
      "sf_dir" -> str(o.sfDir),
      "out_bytes_ratio" -> num(outRatio),
      "failed_frac" -> num(failed.toDouble / attempted),
      "uptime_s" -> obj(marks.toSeq.map { case (k, v) => k -> num(v) }),
      "setup_runs_s" -> setupTimes.map(num).mkString("[", ",", "]"),
      "pass_runs_s" -> plain.map(p => num(p.seconds)).mkString("[", ",", "]"),
      "op_median_s" -> obj(wl.ops.zipWithIndex.map { case (op, i) =>
        op -> num(median(plain.map(_.opSeconds(i)))) }),
      "op_layers" -> obj(opLayers.map { case (op, kv) => op -> obj(kv.map { case (k, v) => k -> num(v) }) }),
      "problems" -> problems.map(str).mkString("[", ",", "]"),
      "fingerprints" -> obj(wl match {
        case q: Queries => q.found.toSeq.map { case (k, v) => k -> str(v) }
        case _ => Nil
      }))
    val json = obj(Seq(
      "correct" -> (problems.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> obj(endToEnd.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(perLayer.map { case (k, v) => k -> num(v) }),
      "info" -> obj(info)))
    Files.writeString(o.out.toPath, json + "\n")
    if (o.trace) {
      o.spans.getParentFile.mkdirs()
      Files.writeString(o.spans.toPath,
        tr.spans.iterator.filter(_ != null).map(_.json).mkString("", "\n", "\n"))
    }
  }
}
