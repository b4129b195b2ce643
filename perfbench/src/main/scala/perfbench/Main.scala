package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload in one JVM.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir> --out <file>
  *
  * Sets the inputs up three times (the median counts), then times whole
  * passes until `--seconds` have elapsed, at least one; every pass's
  * outputs are checked. With `--trace 1` every pass records spans and
  * listener counters per operation and per pass, and afterwards times the
  * analyses' public stage methods on their own. Everything measured goes to
  * `--out` as JSON; `run.py` turns it into the result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, data: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("data"), need("out"))
  }

  /** The session every gate is verified under, pinned to four cores and
    * kept inside the work directory.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.memory.storageFraction", "0.3")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val spark = session(a.work)
    try run(spark, a, jvmStartMs)
    finally spark.stop()
  }

  def run(spark: SparkSession, a: Args, jvmStartMs: Long): Unit = {
    val listener = new EngineListener
    val rec = new Recorder(spark, listener, new Tracer(a.trace))
    val wl: Workload = a.workload match {
      case "plant" => new PlantWorkload(spark, a)
      case "gates_plant" => new GateWorkload(spark, a)
      case other => sys.error(s"unknown workload '$other'")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupReps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }

    wl.prepare()
    betweenPasses(spark)

    (1 to 3).foreach(_ => Calibration.once()) // compile the reference before timing it
    val heap = new PeakHeapAfterGc
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val measureStart = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - measureStart) / 1e9 < a.seconds) {
      p += 1
      rec.startPass(p)
      rec.tracer.span("pass")(wl.pass(rec, p))
      rec.endPass()
      if (a.trace) wl.probeLayers(rec)
      betweenPasses(spark)
    }
    if (a.trace) spark.sparkContext.removeSparkListener(listener)
    val peakHeapMb = heap.close() / 1048576.0
    val checks = wl.checks()

    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k.startsWith("spark.hadoop.fs.s3a.") ||
        k.endsWith("extraJavaOptions") || k == "spark.driver.host" || k == "spark.driver.port" ||
        k == "spark.executor.id" }
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "session_s" -> sessionS, "setup_reps_s" -> setupReps,
      "measure_s" -> (System.nanoTime() - measureStart) / 1e9,
      "peak_heap_mb" -> peakHeapMb,
      "calibration_s" -> rec.calibration,
      "conditions" -> Map(
        "cpus" -> rt.availableProcessors(),
        "max_heap_mb" -> rt.maxMemory() / 1048576.0,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")).toSeq,
        "spark" -> spark.version,
        "spark_conf" -> conf.toMap,
        "sizes" -> wl.sizes.toMap),
      "ops" -> rec.ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "kind" -> o.kind,
        "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error, "calibration_s" -> o.calibrationS,
        "driver_only_s" -> o.driverOnlyS, "counters" -> o.counters.map(_.toMap))),
      "passes" -> rec.passes.map(ps => Map("pass" -> ps.pass, "s" -> ps.seconds,
        "counters" -> ps.counters.map(_.toMap), "driver_only_s" -> ps.driverOnlyS)),
      "layers" -> rec.layers.toMap,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "digest" -> wl.digest,
      "spans" -> rec.tracer.selfTimes.map { case (name, (n, total, self)) =>
        name -> Map("count" -> n, "total_s" -> total / 1000.0, "self_s" -> self / 1000.0) })
    Json.write(a.out, result)
    if (a.trace)
      Json.write(a.out + ".spans.json", rec.tracer.spans.map(sp => Map("name" -> sp.name,
        "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "parent" -> sp.parent, "pass" -> sp.pass)))
  }

  private def betweenPasses(spark: SparkSession): Unit = {
    Workloads.dropCached(spark)
    System.gc()
  }

  def sha256(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

}

/** A fixed in-JVM reference workload that touches nothing in the
  * repository: four threads each fill a seeded array of 2^20 doubles and
  * sort it. Timed after every operation, once that operation's garbage is
  * collected and its listener events are delivered, it measures how fast the
  * host runs this JVM's CPU work at that moment; dividing pass times by it
  * cancels the host's CPU drift, which on a shared VM outlasts a pass and
  * exceeds any useful bound. It does no I/O, so it does not follow drift in
  * disk or shuffle speed.
  */
object Calibration {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
    val t = new Thread(r, "calibration")
    t.setDaemon(true)
    t
  })

  private def sortOnce(seed: Long): Double = {
    val xs = new Array[Double](1 << 20)
    var x = seed
    var i = 0
    while (i < xs.length) {
      x = x * 6364136223846793005L + 1442695040888963407L
      xs(i) = (x >>> 11).toDouble
      i += 1
    }
    java.util.Arrays.sort(xs)
    xs(xs.length / 2)
  }

  /** Seconds for one round of the four sorts. */
  def once(): Double = {
    val t0 = System.nanoTime()
    (0 until 4).map(t => pool.submit(() => sortOnce(t.toLong))).foreach(_.get())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Largest heap occupancy left after any garbage collection while open:
  * the live set the workload needs, which unlike raw usage does not depend
  * on when collections happen to run.
  */
final class PeakHeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null); e
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  /** Stop listening; returns the peak in bytes. */
  def close(): Long = {
    emitters.foreach(_.removeNotificationListener(this))
    peak
  }
}

final case class Check(name: String, ok: Boolean, detail: String)

final case class OpRecord(pass: Int, name: String, kind: String, seconds: Double, ok: Boolean,
                          error: String, counters: Option[Counters], driverOnlyS: Double,
                          calibrationS: Double)

final case class PassRecord(pass: Int, seconds: Double, counters: Option[Counters],
                            driverOnlyS: Double)

/** Times operations and passes. A throwing operation is recorded as failed
  * and posts no time; the pass goes on with the next operation. After each
  * operation, outside the timing, the host's reference time is taken. When
  * the tracer is on, listener counters are taken around every operation and
  * pass.
  */
final class Recorder(spark: SparkSession, listener: EngineListener, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val passes = mutable.ArrayBuffer.empty[PassRecord]
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Reference times taken after each operation, outside the timing. */
  val calibration = mutable.ArrayBuffer.empty[Double]
  private var pass = 0
  private def traced = tracer.enabled
  private var passT0 = 0L
  private var passMs0 = 0L
  private var passC0 = Counters()
  private var untimedS = 0.0

  private def snap(): Counters = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    listener.snapshot()
  }

  def startPass(p: Int): Unit = {
    pass = p; tracer.pass = p
    if (traced) passC0 = snap()
    untimedS = 0.0
    passMs0 = System.currentTimeMillis()
    passT0 = System.nanoTime()
  }

  /** Run `body` inside a pass without counting it in the pass time. */
  def untimed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    untimedS += (System.nanoTime() - t0) / 1e9
  }

  def endPass(): Unit = {
    val s = (System.nanoTime() - passT0) / 1e9 - untimedS
    val msEnd = System.currentTimeMillis()
    val c = if (traced) Some(snap() - passC0) else None
    val driverOnly = if (traced) listener.driverOnlyMs(passMs0, msEnd) / 1000.0 else 0.0
    passes += PassRecord(pass, s, c, driverOnly)
  }

  /** Time `body` as operation `name`; None if it threw. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    val c0 = if (traced) Some(snap()) else None
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (out, s, error) =
      try {
        val o = tracer.span(name)(body)
        (Some(o), (System.nanoTime() - t0) / 1e9, "")
      } catch {
        case e: Throwable =>
          (None, 0.0, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val msEnd = System.currentTimeMillis()
    val counters = if (out.isDefined) c0.map(snap() - _) else None
    val driverOnly = if (traced) listener.driverOnlyMs(ms0, msEnd) / 1000.0 else 0.0
    var calib = 0.0
    untimed {
      // the operation's after-effects must not slow the reference
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      System.gc()
      calib = Calibration.once()
    }
    calibration += calib
    ops += OpRecord(pass, name, kind, s, out.isDefined, error, counters, driverOnly, calib)
    out
  }

  /** Time `body` as a sample of per-layer metric `name`; returns seconds. */
  def timed(name: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    tracer.span(name)(body)
    val s = (System.nanoTime() - t0) / 1e9
    sample(name, s)
    s
  }

  def sample(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def lastOp(name: String): Option[Double] =
    ops.reverseIterator.find(o => o.name == name && o.pass == pass && o.ok).map(_.seconds)
}

trait Workload {
  /** Build or read the inputs; called three times, the last one is used. */
  def setup(): Unit
  /** Untimed, after setup: fix what the output checks compare against. */
  def prepare(): Unit
  /** One full pass, keeping what the output checks need. */
  def pass(rec: Recorder, p: Int): Unit
  /** Traced runs only, after each pass: time the layers inside its operations. */
  def probeLayers(rec: Recorder): Unit
  def checks(): Seq[Check]
  /** Digest of the last pass's results ("name:sha,..."); empty if none are kept. */
  def digest: String
  def sizes: Seq[(String, String)]
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, value: Any): Unit = mapper.writeValue(new java.io.File(path), value)
}
