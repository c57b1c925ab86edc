package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Timing}
import graft.datagen.SyntheticFeatures
import graft.model.{Persist, Pipeline, TrainEval}
import graft.ops.{Dedup, Materialize, Relational, Similarity, Text}
import graft.store.FeatureStore

/** One benchmark run in one fresh JVM: publish a workload's layout
  * tables into an empty warehouse, then run the workload's operations in
  * passes (one cold pass, then steady passes until the time budget is
  * spent) and write the measurements to a JSON file.
  *
  * Every query is evaluated through [[Timing.checksumPlan]], split into
  * the three calls a user makes: building the DataFrame (the module's
  * public function), planning it (`queryExecution.executedPlan`) and
  * running the action. With `--trace 1` a [[Tracer]] attributes every
  * Spark job and stage to the module and phase that submitted it.
  */
object PerfBench {

  val SpanKey = "graft.perfbench.span"

  /** The `ensure*` publishes a workload may declare as set-up, by name. */
  val ensureCalls: Map[String, (SparkSession, String) => Unit] = Map(
    "Relational.ensureLayoutTables" -> ((s, d) => Relational.ensureLayoutTables(s, d)),
    "Materialize.ensureRevenueBase" -> ((s, d) => { Materialize.ensureRevenueBase(s, d); () }),
    "Similarity.ensureVectorLayout" -> ((s, d) => Similarity.ensureVectorLayout(s, d)),
    "Dedup.ensureClusterLabels" -> ((s, d) => { Dedup.ensureClusterLabels(s, d); () }),
    "Dedup.ensureIncrementalBase" -> ((s, d) => { Dedup.ensureIncrementalBase(s, d); () }),
    "Dedup.healIncrementalBase" -> ((s, d) => { Dedup.healIncrementalBase(s, d); () }),
    "Text.ensureRarePostingIndex" -> ((s, d) => { Text.ensureRarePostingIndex(s, d); () }))

  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val registry = Registry.load(o.str("registry"))
    val problems = registry.problems(SparkEntry.queries.keySet)
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"[perfbench] registry: $p"))
      sys.exit(3)
    }
    val unknown = o.str("queries").split(",").filterNot(registry.module.contains) ++
      o.str("setup").split(",").filter(_.nonEmpty).filterNot(ensureCalls.contains)
    if (unknown.nonEmpty) sys.error(s"not declared: ${unknown.mkString(", ")}")
    if (!new Run(o, registry).execute()) sys.exit(1)
  }

  def session(o: Opts, lake: String): SparkSession = {
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master(s"local[${o.int("cores")}]")
      .config("spark.sql.shuffle.partitions", o.int("cores").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$lake/warehouse")
      .config("spark.local.dir", s"$lake/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$lake/hadoop-tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs the workload's `ensure*` calls in order; returns their wall ms. */
  def setup(spark: SparkSession, calls: Seq[String], corpus: String,
            tracer: Option[Tracer]): Seq[(String, Double)] =
    calls.map { name =>
      val t0 = System.nanoTime()
      Tracer.span(spark, tracer, s"setup.$name", "setup")(ensureCalls(name)(spark, corpus))
      name -> (System.nanoTime() - t0) / 1e6
    }
}

/** `--key value` command-line options. */
final case class Opts(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
}

object Opts {
  def apply(args: Array[String]): Opts =
    Opts(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
}

/** The benchmark's query registry: every declared query mapped to the
  * one module and the one workload it is measured under. */
final case class Registry(rows: Seq[(String, String, String)]) {
  val module: Map[String, String] = rows.map(r => r._1 -> r._2).toMap

  /** Names that are unmapped, stale or mapped twice. */
  def problems(declared: Set[String]): Seq[String] = {
    val names = rows.map(_._1)
    val dup = names.diff(names.distinct).distinct.map(n => s"$n mapped twice")
    val unmapped = (declared -- names).toSeq.sorted.map(n => s"$n has no workload")
    val stale = (names.toSet -- declared).toSeq.sorted.map(n => s"$n is not declared")
    dup ++ unmapped ++ stale
  }
}

object Registry {
  def load(path: String): Registry = Registry(
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.trim.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, m, w) = l.split("\t"); (q, m, w) })
}

/** Attributes Spark jobs and stages to spans. A span is one call of one
  * module phase; its id travels as a local property on every job the
  * driver thread submits while the span is open. */
final class Tracer extends SparkListener {
  final case class StageRec(span: String, start: Long, end: Long, tasks: Int,
                            cpuNs: Long, shuffleBytes: Long, spillBytes: Long)

  val jobsBySpan = new ConcurrentHashMap[String, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(PerfBench.SpanKey)))
      .getOrElse(Tracer.Unattributed)
    jobsBySpan.merge(span, 1, (a, b) => a + b)
    e.stageIds.foreach(id => stageSpan.put(id, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val span = stageSpan.getOrDefault(si.stageId, Tracer.Unattributed)
    val (cpu, shuffle, spill) =
      if (m == null) (0L, 0L, 0L)
      else (m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.add(StageRec(span, si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), si.numTasks, cpu, shuffle, spill))
  }
}

object Tracer {
  val Unattributed = "unattributed"
  private var nextId = 0L

  /** A closed span: which module phase ran, and when (epoch ms). */
  final case class Call(id: String, module: String, phase: String, t0: Long, t1: Long)
  val calls = new ConcurrentLinkedQueue[Call]()

  /** Runs `body` inside a fresh span. Without a tracer only the body runs. */
  def span[T](spark: SparkSession, tracer: Option[Tracer], module: String,
              phase: String)(body: => T): T = tracer match {
    case None => body
    case Some(_) =>
      nextId += 1
      val id = s"$module|$phase|$nextId"
      val sc = spark.sparkContext
      sc.setLocalProperty(PerfBench.SpanKey, id)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        calls.add(Call(id, module, phase, t0, System.currentTimeMillis()))
        sc.setLocalProperty(PerfBench.SpanKey, null)
      }
  }
}

/** Tiny JSON writer for flat string → number/string/array maps. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case kv: Map[_, _] => kv.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case other => value(other.toString)
  }

  def write(path: String, fields: Seq[(String, Any)]): Unit =
    Files.write(Paths.get(path),
      value(fields.toMap).getBytes(StandardCharsets.UTF_8))
}

/** One measured run: set-up in the cold JVM, a cold pass, then steady passes. */
final class Run(o: Opts, registry: Registry) {
  import Run.FirstSteady

  private val setupNames = o.str("setup").split(",").toSeq.filter(_.nonEmpty)
  private val traced = o.int("trace") == 1
  private val seconds = o.int("seconds")
  private val minSteady = o.int("min-steady")
  private val corpus = o.str("corpus")
  private val lake = o.str("lake")
  private val cores = o.int("cores")
  private val errors = mutable.ArrayBuffer.empty[String]

  /** Per operation: the first (rows, checksum) seen; later passes must match. */
  private val expected = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var attempted = 0L
  private var failed = 0L

  private def fail(msg: String): Unit = {
    failed += 1
    errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  private def record(name: String, rows: Long, chk: Long): Unit =
    expected.get(name) match {
      case None => expected(name) = (rows, chk)
      case Some(e) if e != ((rows, chk)) =>
        fail(s"$name: output changed between passes: $e then ($rows,$chk)")
      case _ => ()
    }

  def execute(): Boolean = {
    val tracer = if (traced) Some(new Tracer) else None
    // set-up runs in this cold JVM: its CPU figure counts from the JVM's
    // start (class loading, session start, JIT) to the last publish
    val spark = PerfBench.session(o, lake)
    tracer.foreach(spark.sparkContext.addSparkListener)
    val setupMs = PerfBench.setup(spark, setupNames, corpus, tracer)
    val setupEnd = System.currentTimeMillis()
    val setupCpu = Run.processCpuS()

    val ops = o.str("queries").split(",").toSeq

    // pass 0 is cold; in a traced run the steady passes go traced,
    // untraced, untraced, traced (repeating), so the tracing overhead is
    // measured inside the same JVM without favouring either side of the
    // JIT's remaining warm-up
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passTraced = mutable.ArrayBuffer.empty[Boolean]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passCalls = mutable.ArrayBuffer.empty[(Long, Long)]
    val gcAt = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val start = System.nanoTime()
    var pass = 0
    var listening = tracer.isDefined
    def steadyDone = passWall.size - FirstSteady
    var lastWall = 0.0
    // stop before a pass that would end past the time budget
    while (pass == 0 || steadyDone < minSteady ||
      (System.nanoTime() - start) / 1e9 + lastWall <= seconds) {
      val on = tracer.isDefined &&
        (pass < FirstSteady || Seq(0, 3).contains((pass - FirstSteady) % 4))
      tracer.foreach { t =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        if (on != listening) {
          if (on) spark.sparkContext.addSparkListener(t)
          else spark.sparkContext.removeSparkListener(t)
          listening = on
        }
      }
      val active = if (on) tracer else None
      val gc0 = Timing.gcSeconds()
      val t0 = System.currentTimeMillis()
      val c0 = Run.processCpuS()
      val p0 = System.nanoTime()
      val timed = ops.flatMap(query(spark, active, _))
      val wall = (System.nanoTime() - p0) / 1e9
      passCpu += Run.processCpuS() - c0
      passWall += wall
      lastWall = wall
      passTraced += on
      passCalls += ((t0, System.currentTimeMillis()))
      gcAt += (Timing.gcSeconds() - gc0) * 1000
      timed.foreach { case (q, ms) => perOp.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms }
      System.err.println(f"[perfbench] pass $pass%d ${if (on) "traced" else "untraced"} $wall%.3f s")
      pass += 1
    }
    if (tracer.isDefined && o.long("pipeline-n") > 0) {
      if (!listening) spark.sparkContext.addSparkListener(tracer.get)
      pipelineCheck(spark, tracer)
    }
    tracer.foreach { t =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }

    val lakeBytes = Run.bytesUnder(new File(lake)) - Run.bytesUnder(new File(s"$lake/spark-local"))
    val denom = Run.bytesUnder(new File(corpus))
    // read while the session, and whatever it keeps cached, is alive
    val heapMb = Run.retainedHeapMb()
    spark.stop()

    val fields = mutable.ArrayBuffer[(String, Any)](
      "setup_end_ms" -> setupEnd,
      "setup_calls_ms" -> setupMs.toMap,
      "setup_cpu_s" -> setupCpu,
      "first_steady_pass" -> FirstSteady,
      "pass_s" -> passWall.toSeq,
      "pass_cpu_s" -> passCpu.toSeq,
      "pass_traced" -> passTraced.toSeq,
      "pass_gc_ms" -> gcAt.toSeq,
      "op_ms" -> perOp.map { case (k, v) => k -> v.toSeq }.toMap,
      "lake_bytes" -> lakeBytes,
      "input_bytes" -> denom,
      "retained_heap_mb" -> heapMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq.take(20))
    tracer.foreach { t =>
      fields ++= Layers.summarize(t, passWall.toSeq, passTraced.toSeq,
        passCalls.toSeq, gcAt.toSeq, cores)
    }
    Json.write(o.str("out"), fields.toSeq)
    failed == 0
  }

  /** One query: build, plan and run its checksum plan, each in its own
    * span. Returns (name, wall ms), or nothing if it failed. */
  private def query(spark: SparkSession, tracer: Option[Tracer], name: String): Option[(String, Double)] = {
    val module = registry.module(name)
    val fn = SparkEntry.queries(name)
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val df = Tracer.span(spark, tracer, module, "build")(fn(spark, corpus))
      val plan = Tracer.span(spark, tracer, module, "plan") {
        val p = Timing.checksumPlan(df); p.queryExecution.executedPlan; p }
      val row = Tracer.span(spark, tracer, module, "exec")(plan.collect().head)
      val ms = (System.nanoTime() - t0) / 1e6
      record(name, row.getLong(0), row.getLong(1))
      Some(name -> ms)
    } catch {
      case NonFatal(e) =>
        fail(s"$name failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
        None
    }
  }

  /** The reference pipeline, traced: one `Pipeline.run` call, then its
    * public steps one by one in the same order, each in its own span.
    * Both must write n feature rows and ⌈0.2·n⌉ predictions, reach the
    * accuracy floor, and agree with each other. */
  private def pipelineCheck(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    val n = o.long("pipeline-n")
    val seed = o.long("seed")
    val out = s"$lake/out"
    val nTest = math.ceil(n * 0.2).toLong
    def check(what: String, r: Pipeline.Result): Unit = {
      val written = Run.csvRows(s"$out/feature_store/features.csv")
      val predicted = Run.csvRows(s"$out/model_runs/predictions.csv")
      if (r.nTest != nTest || r.nTrain != n - nTest || written != n || predicted != nTest)
        fail(s"$what: rows train=${r.nTrain} test=${r.nTest} " +
          s"csv=$written predictions=$predicted for n=$n")
      if (!(r.accuracy >= 0.8 && r.accuracy <= 1.0))
        fail(s"$what: accuracy ${r.accuracy} below 0.8")
    }
    attempted += 2
    try {
      val whole = Tracer.span(spark, tracer, "Pipeline.run", "step") {
        Pipeline.run(spark, out, n = n, seed = seed) }
      check("Pipeline.run", whole)
      val steps = Run.pipelineSteps(spark, tracer, out, n, seed)
      check("Pipeline steps", steps)
      if (steps != whole) fail(s"Pipeline steps gave $steps, Pipeline.run gave $whole")
    } catch {
      case NonFatal(e) =>
        fail(s"Pipeline failed: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
    }
  }
}

object Run {
  /** Pass 0 runs cold (first planning, codegen and JIT of every query);
    * steady figures come from the passes after it. */
  val FirstSteady = 1

  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  /** Data rows of a header CSV directory written by Spark. */
  def csvRows(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map(f => math.max(0L, Files.lines(f.toPath).count() - 1)).sum

  /** CPU seconds this JVM has used so far, all threads. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Heap in use after full GCs. The pauses let Spark's ContextCleaner
    * release what the first GC found unreachable, for the next GC. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `Pipeline.run`'s public steps in its order, each in its own span.
    * The generated and the predicted frames are materialized inside their
    * own step (one extra count each) so each step owns its work. */
  def pipelineSteps(spark: SparkSession, tracer: Option[Tracer], out: String,
                    n: Long, seed: Long): Pipeline.Result = {
    def step[T](name: String)(body: => T): T = Tracer.span(spark, tracer, name, "step")(body)
    val cols = Pipeline.featureCols
    val features = step("datagen.generate") {
      val f = SyntheticFeatures.generate(spark, n).cache(); f.count(); f }
    step("store.writeCsv") {
      FeatureStore.writeCsv(features.drop("row_id"),
        s"$out/feature_store/features.csv", Seq("target", "feature_0")) }
    val (train, test) = step("model.split") {
      TrainEval.exactSplit(features, "row_id", 0.2, seed) }
    val model = step("model.trainRF") {
      TrainEval.trainRF(train, cols, "target", 100, seed) }
    val pred = step("model.predict") {
      val p = TrainEval.predict(model, test, cols).cache(); p.count(); p }
    val (acc, nTest, nTrain) = step("model.accuracy") {
      val row = TrainEval.accuracy(pred, "target", "prediction").head()
      (row.getDouble(0), row.getLong(1), train.count()) }
    step("model.persist") {
      Persist.saveModel(model, s"$out/model_runs/random_forest")
      Persist.savePredictions(pred, "target", "prediction",
        s"$out/model_runs/predictions.csv")
      Persist.saveRunInfo(acc, s"$out/model_runs/random_forest",
        s"$out/feature_store/features.csv", s"$out/model_runs/predictions.csv",
        s"$out/model_runs/run_info.json")
    }
    features.unpersist(); pred.unpersist()
    Pipeline.Result(acc, nTrain, nTest)
  }
}
