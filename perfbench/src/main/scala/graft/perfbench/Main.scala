package graft.perfbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point; `run.py` builds the classpath and starts it.
  *
  *   --workload W --seed N --seconds S --trace 0|1 --data DIR --cores C
  *   --expected FILE --result FILE [--report FILE]
  *   --record FILE    (instead of a run: write the expected outputs)
  *
  * One run: three session set-ups (the last one is kept), a cold pass, then
  * warm passes until `seconds` have gone since the cold pass began (at
  * least three). Every query is driven by name through `SparkEntry.queries`
  * and forced with an order-independent row hash of all its columns, which
  * is checked against the expected file. The result line goes to
  * `--result`; the traced report, with every per-layer metric per query and
  * the spans, to `--report`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, cores: Int, expected: Path, result: Option[Path], report: Option[Path],
      record: Option[Path])

  /** Row count and `bit_xor(xxhash64(all columns))` of a query's output. */
  final case class Outcome(rows: Long, hash: Long)

  final case class QueryRun(pass: Int, client: Int, name: String, latencyS: Double,
      outcome: Option[Outcome], error: Option[String], timed: Layers.Timed, span: String,
      windows: Seq[Tracer.Window])

  /** `peakCachedBytes`: most RDD-block storage held at once (traced only). */
  final case class PassRun(index: Int, kind: String, seconds: Double, startMs: Long,
      endMs: Long, queries: Seq[QueryRun], peakCachedBytes: Long)

  private val SetUps = 3
  /** The first warm pass still pays JIT warm-up; with three, the median is
    * a settled pass. */
  private val MinWarmPasses = 3
  /** No pass starts this long after JVM start, so a run stays bounded
    * even when the engine gets much slower. */
  private val DeadlineS = 140.0

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workloads = a.record.fold(Seq(Workloads.byName(a.workload)))(_ => Workloads.all)
    val names = workloads.flatMap(_.queries).distinct
    val dirsAtStart = graftDirs()

    // set-up: session + registry lookup + a first job, several times
    var spark: SparkSession = null
    var builders: Map[String, (SparkSession, String) => DataFrame] = Map.empty
    var firstReadyMs = 0L
    val setups = (1 to SetUps).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(a.cores, "perfbench")
      val registry = SparkEntry.queries
      builders = names.map(n => n -> registry.getOrElse(n, throw new NoSuchElementException(
        s"workload query '$n' is not in SparkEntry.queries"))).toMap
      spark.range(1).count()
      if (i == 1) firstReadyMs = System.currentTimeMillis()
      (System.nanoTime() - t0) / 1e9
    }
    val jvmSetupS = (firstReadyMs - jvmStartMs) / 1000.0
    val ctx = Ctx(spark, a, builders, SparkEntry.prepares)
    try {
      a.record match {
        case Some(out) => record(ctx, workloads, out)
        case None => run(ctx, workloads.head, setups, jvmSetupS, jvmStartMs)
      }
    } finally {
      spark.stop()
      removeNewDirs(dirsAtStart)
    }
  }

  private final case class Ctx(spark: SparkSession, a: Args,
      builders: Map[String, (SparkSession, String) => DataFrame],
      prepares: Map[String, (SparkSession, String) => Unit]) {
    val expected: Map[String, Outcome] = if (a.record.isDefined) Map.empty else loadExpected(a.expected)
    val baselineRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  // ------------------------------------------------------------------
  // one run
  // ------------------------------------------------------------------

  private def run(ctx: Ctx, wl: Workload, setups: Seq[Double], jvmSetupS: Double,
      jvmStartMs: Long): Unit = {
    val a = ctx.a
    val missing = wl.queries.filterNot(ctx.expected.contains)
    require(missing.isEmpty, s"no expected output for ${missing.mkString(", ")} in ${a.expected}")
    val sessions = (0 until wl.clients).map(_ => ctx.spark.newSession())
    val tracer = if (a.trace) Some(new Tracer) else None
    def sinceJvm = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val t0 = System.nanoTime()
    val cold = runPass(ctx, wl, sessions, 0, "cold", None)
    val warm = scala.collection.mutable.ArrayBuffer.empty[PassRun]
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the traced run alternates traced and plain passes, traced first, so a
    // pass-to-pass warm-up trend cancels out of the tracing overhead
    while ((warm.size < MinWarmPasses ||
        elapsed + warm.last.seconds <= a.seconds) && sinceJvm < DeadlineS) {
      val traced = tracer.filter(_ => warm.size % 2 == 0)
      warm += runPass(ctx, wl, sessions, warm.size + 1, if (traced.isDefined) "traced" else "warm",
        traced)
    }
    val passes = cold +: warm.toSeq
    val runs = passes.flatMap(_.queries)
    val failed = runs.count(_.error.isDefined)
    val plain = warm.filter(_.kind == "warm").toSeq
    val latencies = plain.flatMap(_.queries).map(_.latencyS)

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        val q = Stats.summary(latencies)
        log(s"warm query latency over ${q.n} samples: p50 ${Json.fixed(q.p50, 3)} s, " +
          s"p90 ${Json.fixed(q.p90, 3)} s")
        Seq(("setup_s", Stats.median(setups), "s"),
          ("cold_pass_s", cold.seconds, "s"),
          ("pass_s", Stats.median(plain.map(_.seconds)), "s"),
          ("query_p50_s", q.p50, "s"),
          ("query_p90_s", q.p90, "s"))
      case Some(t) =>
        val traced = warm.filter(_.kind == "traced").toSeq
        val layers = tracedLayers(t, traced, a.cores)
        val tracedS = Stats.median(traced.map(_.seconds))
        val overall = Layers.metrics.map { case (name, unit) =>
          val v = name match {
            case "setup.jvm_s" => jvmSetupS
            case "trace.pass_s" => tracedS
            case "trace.overhead_s" => tracedS - Stats.median(plain.map(_.seconds))
            case n => Stats.median(layers.perPass.map(_(n)))
          }
          (name, v, unit)
        }
        a.report.foreach(p => writeReport(p, wl, a, setups, passes, layers, overall, t))
        overall
    }
    printSummary(wl, passes, failed)
    val result = Json.obj(
      "correct" -> Json.Bool(failed == 0),
      "attempted" -> Json.Num(runs.size.toDouble),
      "failed" -> Json.Num(failed.toDouble),
      "metrics" -> Json.Obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.Num(v), "unit" -> Json.Str(u))
      }))
    a.result.foreach(p => Files.write(p, (Json.render(result) + "\n").getBytes(UTF_8)))
  }

  /** Runs one pass: every client goes through its own seeded order of the
    * workload's queries, in its own thread when there are several. */
  private def runPass(ctx: Ctx, wl: Workload, sessions: Seq[SparkSession], index: Int,
      kind: String, tracer: Option[Tracer]): PassRun = {
    val sc = ctx.spark.sparkContext
    tracer.foreach { t =>
      t.resetCached()
      sc.addSparkListener(t)
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val results = Array.fill(sessions.size)(Seq.empty[QueryRun])
    def client(c: Int): Unit = {
      results(c) = Workloads.order(wl.queries, ctx.a.seed, index, c).map { name =>
        runQuery(ctx, sessions(c), index, c, name, tracer, sweep = sessions.size == 1)
      }
    }
    if (sessions.size == 1) client(0)
    else {
      val threads = sessions.indices.map(c => new Thread(() => client(c), s"perfbench-client-$c"))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    // several clients share the context: sweep once all are done
    if (sessions.size > 1) sweepRdds(ctx)
    val seconds = (System.nanoTime() - t0) / 1e9
    val peak = tracer.fold(0L) { t =>
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      sc.removeSparkListener(t)
      t.cachedPeakBytes
    }
    PassRun(index, kind, seconds, startMs, System.currentTimeMillis(), results.toSeq.flatten,
      peak)
  }

  /** One query: untimed prepare, then the timed build, plan and forcing
    * aggregate, then the untimed check and sweep. */
  private def runQuery(ctx: Ctx, spark: SparkSession, pass: Int, client: Int, name: String,
      tracer: Option[Tracer], sweep: Boolean): QueryRun = {
    val sc = spark.sparkContext
    val span = s"p$pass.c$client.$name"
    ctx.prepares.get(name).foreach { p =>
      try p(spark, ctx.a.data)
      catch { case t: Throwable => log(s"prepare failed $name: $t") }
    }
    val dirsBefore = graftDirs()
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val windows = scala.collection.mutable.ArrayBuffer.empty[Tracer.Window]
    val seconds = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def phase[T](p: String)(body: => T): T = {
      val m0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        seconds(p) = (System.nanoTime() - n0) / 1e9
        windows += Tracer.Window(p, m0, System.currentTimeMillis())
      }
    }
    sc.setLocalProperty(Tracer.SpanKey, span)
    tracer.foreach(_.begin(span, System.currentTimeMillis()))
    val t0 = System.nanoTime()
    var planner = Map.empty[String, Double]
    val outcome: Either[Throwable, Outcome] =
      try {
        val df = phase("build")(ctx.builders(name)(spark, ctx.a.data))
        // Force EVERY output column: a bare count() lets column pruning
        // drop computed projections (same forcing aggregate as graft.Bench)
        val agg = phase("plan") {
          val g = df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*)), count(lit(1)))
          g.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan
          g
        }
        val row = phase("exec")(agg.collect().head)
        planner = agg.asInstanceOf[classic.Dataset[_]].queryExecution.tracker.phases
          .map { case (k, v) => k -> v.durationMs / 1000.0 }
        Right(Outcome(row.getLong(1), if (row.isNullAt(0)) 0L else row.getLong(0)))
      } catch { case t: Throwable => Left(t) }
    val latency = (System.nanoTime() - t0) / 1e9
    val (retained, leaked) = phase("sweep") {
      val retained = newRdds(ctx).keys.count(!rddsBefore(_))
      if (sweep) sweepRdds(ctx)
      // one-time staging a query keeps across passes (mtime-keyed copies
      // of its input) appears in the cold pass; anything new in a warm
      // pass is a leftover, counted and removed before the next query
      val fresh = graftDirs() -- dirsBefore
      if (pass > 0) fresh.foreach(deleteTree)
      (retained, if (pass > 0) fresh.size else 0)
    }
    sc.setLocalProperty(Tracer.SpanKey, null)
    tracer.foreach(_.finish(span, windows.toSeq))
    val error = outcome match {
      case Left(t) => Some(s"${t.getClass.getName}: ${t.getMessage}")
      case Right(o) if ctx.a.record.isEmpty && !ctx.expected.get(name).contains(o) =>
        Some(s"wrong output: rows=${o.rows} hash=${o.hash}, expected ${ctx.expected.get(name)}")
      case Right(_) => None
    }
    error.foreach(e => log(s"FAILED $name (pass $pass, client $client): $e"))
    val timed = Layers.Timed(seconds("build"), seconds("plan"), seconds("exec"), planner,
      retained, leaked, windows.find(_.phase == "build").getOrElse(Tracer.Window("build", 0, 0)))
    QueryRun(pass, client, name, latency, outcome.toOption, error, timed, span, windows.toSeq)
  }

  private def newRdds(ctx: Ctx) =
    ctx.spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !ctx.baselineRdds(id) }

  /** Unpersists every RDD persisted since set-up, as graft.Bench does, so
    * one query's cached blocks never tax the next. Blocking, so the block
    * removal finishes here and not inside the next query's timed window. */
  private def sweepRdds(ctx: Ctx): Unit =
    newRdds(ctx).values.foreach(_.unpersist(blocking = true))

  // ------------------------------------------------------------------
  // traced layers and the report
  // ------------------------------------------------------------------

  private final case class TracedLayers(perQuery: Seq[(QueryRun, Map[String, Double])],
      perPass: Seq[Map[String, Double]])

  private def tracedLayers(t: Tracer, traced: Seq[PassRun], cores: Int): TracedLayers = {
    val perQuery = traced.flatMap(_.queries).map(q =>
      q -> Layers.perQuery(q.timed, t.forQuery(q.span), cores))
    val perPass = traced.map { p =>
      Layers.perPass(perQuery.filter(_._1.pass == p.index).map(_._2), cores, p.peakCachedBytes)
    }
    TracedLayers(perQuery, perPass)
  }

  private def writeReport(path: Path, wl: Workload, a: Args, setups: Seq[Double],
      passes: Seq[PassRun], layers: TracedLayers, overall: Seq[(String, Double, String)],
      t: Tracer): Unit = {
    import Json._
    val byQuery = layers.perQuery.groupBy(_._1.name)
    val perQuery = wl.queries.map { n =>
      val runs = byQuery.getOrElse(n, Nil)
      val ms = runs.map(_._2)
      val values = Layers.metrics.flatMap { case (m, _) =>
        if (ms.isEmpty || !ms.head.contains(m)) None else Some(m -> Num(Stats.median(ms.map(_(m)))))
      }
      // jobs per engine module, from the query's first traced execution
      val modules = runs.headOption.toSeq.flatMap(r => t.forQuery(r._1.span).jobs)
        .groupBy(_._1.module.getOrElse("unattributed")).toSeq.sortBy(_._1)
        .map { case (m, js) => m -> Num(js.size.toDouble) }
      n -> Obj(values :+ ("jobs_by_module" -> Obj(modules)))
    }
    val spans = Spans.of(passes.filter(_.kind == "traced"), t)
    val report = obj(
      "workload" -> Str(wl.name), "seed" -> Num(a.seed.toDouble), "cores" -> Num(a.cores),
      "setup_s" -> Arr(setups.map(Num)),
      "passes" -> Arr(passes.map(p => obj("index" -> Num(p.index), "kind" -> Str(p.kind),
        "seconds" -> Num(p.seconds), "queries" -> Arr(p.queries.map(q => obj(
          "name" -> Str(q.name), "client" -> Num(q.client), "latency_s" -> Num(q.latencyS),
          "error" -> q.error.fold[Value](Str(""))(Str))))))),
      "per_layer" -> Obj(overall.map { case (n, v, u) => n -> obj("value" -> Num(v), "unit" -> Str(u)) }),
      "per_query" -> Obj(perQuery),
      "spans" -> Arr(spans.map(_.json)))
    Files.write(path, (render(report) + "\n").getBytes(UTF_8))
    log(s"traced report: $path")
  }

  private def printSummary(wl: Workload, passes: Seq[PassRun], failed: Int): Unit = {
    log(s"${wl.name}: " + passes.map(p => s"${p.kind} ${Json.fixed(p.seconds, 2)} s")
      .mkString(", ") + s"; failed $failed")
    val byPass = passes.map(_.queries.groupBy(_.name))
    log(f"  ${"query"}%-28s cold s  warm s (median)")
    for (n <- wl.queries) {
      val lat = byPass.tail.flatMap(_.getOrElse(n, Nil)).map(_.latencyS)
      val cold = byPass.head.getOrElse(n, Nil).map(_.latencyS)
      if (lat.nonEmpty && cold.nonEmpty)
        log(f"  $n%-28s " + Json.fixed(Stats.median(cold), 3) + "  " +
          Json.fixed(Stats.median(lat), 3))
    }
  }

  // ------------------------------------------------------------------
  // expected outputs
  // ------------------------------------------------------------------

  /** Runs every query of every workload twice in one session and writes
    * their outputs, refusing any query whose two outputs differ. */
  private def record(ctx: Ctx, workloads: Seq[Workload], out: Path): Unit = {
    val session = ctx.spark.newSession()
    val lines = workloads.flatMap(_.queries).distinct.sorted.map { n =>
      val outcomes = (0 to 1).map { pass =>
        val r = runQuery(ctx, session, pass, 0, n, None, sweep = true)
        r.error.foreach(e => throw new IllegalStateException(s"$n failed: $e"))
        r.outcome.get
      }
      require(outcomes.distinct.size == 1, s"$n is not deterministic: $outcomes")
      s"$n\t${outcomes.head.rows}\t${outcomes.head.hash}"
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    log(s"recorded ${lines.size} expected outputs to $out")
  }

  def loadExpected(p: Path): Map[String, Outcome] =
    Files.readAllLines(p, UTF_8).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\t")
        n -> Outcome(rows.toLong, hash.toLong)
      }.toMap

  // ------------------------------------------------------------------
  // temp directories
  // ------------------------------------------------------------------

  /** `graft*` entries in the two places the engine creates them: the JVM
    * temp dir and the staging base of its lake fixtures. */
  private def graftDirs(): Set[Path] =
    Seq(sys.props("java.io.tmpdir"), SparkEntry.stagingBase).distinct.flatMap { d =>
      val s = Files.list(Paths.get(d))
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft")).toList
      finally s.close()
    }.toSet

  /** Removes what this run created there, so no run leaves files behind. */
  private def removeNewDirs(before: Set[Path]): Unit = (graftDirs() -- before).foreach(deleteTree)

  private def deleteTree(p: Path): Unit = {
    val f = p.toFile
    Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.toPath)))
    f.delete(): Unit
  }

  // ------------------------------------------------------------------
  // arguments
  // ------------------------------------------------------------------

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "0").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      data = need("data"),
      cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      expected = Paths.get(kv.getOrElse("expected", "expected.tsv")),
      result = kv.get("result").map(Paths.get(_)),
      report = kv.get("report").map(Paths.get(_)),
      record = kv.get("record").map(Paths.get(_)))
  }
}
