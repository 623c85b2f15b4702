package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkInternals, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}

/** One job as a user runs it: the `SparkEntry.queries(name)` builder call,
  * a write of its result to the `noop` sink, then `GraftSession.release()`.
  * Times are epoch milliseconds, so they line up with Spark's event times.
  */
final case class Request(id: Int, kind: String, client: Int, query: String,
    startMs: Double, buildEndMs: Double, execEndMs: Double, endMs: Double,
    rows: Long, hooks: Int, gcMs: Long, error: Option[String], message: Option[String])

final case class Stamp(cores: Int, heapMb: Long, spark: String, java: String)

/** Janino compilations and their total time, summed over the JVM. */
final case class Codegen(compiles: Long, compileNs: Long)

final case class Output(stamp: Stamp, setupS: Seq[Double], warmupS: Double,
    jvmS: Double, windowStartMs: Double, windowEndMs: Double, peakRssKb: Long,
    codegenAtStart: Codegen, codegenAtEnd: Codegen,
    requests: Seq[Request], recorder: Option[RecorderOut])

/** The benchmark's JVM side: builds sessions exactly as `GraftSession.builder`
  * ships them and runs closed-loop clients over one workload's queries.
  * Workload definitions, input generation, correctness checks and all
  * metric arithmetic live in the Python side (`run.py`, `metrics.py`);
  * this program only times calls and records what the listeners see.
  */
object Main {
  final case class Args(queries: Seq[String], clients: Int, cores: Int,
      seed: Long, seconds: Int, warmupSeconds: Double, trace: Boolean, data: String,
      out: String, setupQuery: String, setups: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("queries").split(",").toSeq, m("clients").toInt, m("cores").toInt,
      m("seed").toLong, m("seconds").toInt, m("warmup-seconds").toDouble,
      m("trace") == "1", m("data"), m("out"),
      m("setup-query"), m("setups").toInt)
  }

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssKb: Long = scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status")) { src =>
    src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toLong }.getOrElse(-1L)
  }

  private def codegen: Codegen = Codegen(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Runs `body` with the Spark job tag `tag` on this thread when tracing. */
  private def tagged[T](spark: SparkSession, tag: Option[String])(body: => T): T =
    tag match {
      case None => body
      case Some(t) =>
        spark.sparkContext.addJobTag(t)
        try body finally spark.sparkContext.removeJobTag(t)
    }

  def runJob(spark: SparkSession, a: Args, id: Int, kind: String, client: Int,
      query: String): Request = {
    def tag(phase: String) = if (a.trace) Some(s"pb.$id.$phase") else None
    val g0 = gcMs
    val start = nowMs
    var buildEnd, execEnd = start
    var rows = -1L
    var hooks = 0
    var failure: Option[Throwable] = None
    try {
      val df =
        try tagged(spark, tag("build"))(SparkEntry.queries(query)(spark, a.data))
        finally { buildEnd = nowMs; execEnd = buildEnd }
      val obs = Observation(s"pb_rows_$id")
      try {
        tagged(spark, tag("exec")) {
          df.observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
        }
        rows = obs.get("n").asInstanceOf[Long]
      } finally execEnd = nowMs
    } catch { case e: Exception => failure = Some(e) }
    try hooks = tagged(spark, tag("release"))(GraftSession.release())
    catch { case e: Exception => if (failure.isEmpty) failure = Some(e) }
    Request(id, kind, client, query, start, buildEnd, execEnd, nowMs, rows,
      hooks, gcMs - g0, failure.map(_.getClass.getName),
      failure.map(e => String.valueOf(e.getMessage).take(500)))
  }

  /** Runs closed-loop clients for `seconds`. Each client cycles through
    * the queries in its own seeded order and sends its next job only when
    * the previous one has returned. In the timed window a lone client stops
    * at the end of a pass, so every window holds each query equally often;
    * otherwise clients stop after the job in flight (concurrent clients'
    * many short jobs already mix evenly).
    */
  def drive(spark: SparkSession, a: Args, kind: String, seconds: Double,
      ids: AtomicInteger, sink: ConcurrentLinkedQueue[Request]): Unit = {
    val deadline = nowMs + seconds * 1e3
    def timeUp = nowMs >= deadline
    val cutPerJob = a.clients > 1 || kind != "window"
    val threads = (0 until a.clients).map { c =>
      new Thread(() => GraftSession.inPool(spark, s"client$c") {
        val rng = new scala.util.Random(a.seed * 1000003L + c * 101L + kind.hashCode)
        while (!timeUp) {
          val order = rng.shuffle(a.queries).iterator
          while (order.hasNext && !(cutPerJob && timeUp))
            sink.add(runJob(spark, a, ids.incrementAndGet(), kind, c, order.next()))
        }
      }, s"pb-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private def newSession(a: Args): SparkSession = {
    val spark = GraftSession.builder(cores = a.cores, shufflePartitions = a.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ids = new AtomicInteger(0)
    val done = new ConcurrentLinkedQueue[Request]()

    // set-up: start a session and run one job through it, several times;
    // the last session stays up for the measurement
    var spark: SparkSession = null
    val setupS = (1 to a.setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = nowMs
      spark = newSession(a)
      done.add(runJob(spark, a, ids.incrementAndGet(), "setup", 0, a.setupQuery))
      (nowMs - t0) / 1e3
    }

    val recorder = if (a.trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val w0 = nowMs
    // warm-up: the same load, not measured; the JIT is still speeding
    // jobs up well past the first pass
    drive(spark, a, "warmup", a.warmupSeconds, ids, done)
    val warmupS = (nowMs - w0) / 1e3
    recorder.foreach { r => SparkInternals.drainListeners(spark.sparkContext); r.reset() }

    val codegenAtStart = codegen
    val windowStart = nowMs
    drive(spark, a, "window", a.seconds, ids, done)
    val windowEnd = nowMs
    val codegenAtEnd = codegen
    recorder.foreach(_ => SparkInternals.drainListeners(spark.sparkContext))

    val out = Output(
      Stamp(a.cores, Runtime.getRuntime.maxMemory / (1024 * 1024), spark.version,
        System.getProperty("java.version")),
      setupS, warmupS, (nowMs - baseMs) / 1e3, windowStart, windowEnd, peakRssKb,
      codegenAtStart, codegenAtEnd, done.asScala.toSeq.sortBy(_.id),
      recorder.map(_.snapshot()))
    spark.stop()
    val json = org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats)
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out), json.getBytes("UTF-8"))
  }
}
