package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one timed operation produced. `check` runs after the clock stops;
  * it returns an error message when the output is wrong. */
final case class Outcome(kind: String, rows: Long = 0L,
    extra: Map[String, Any] = Map.empty,
    check: () => Option[String] = () => None)

/** One workload: inputs made from the seed, a warm-up, and a closed loop of
  * operations issued by a single client. */
trait Workload {
  /** Make the inputs and put them where the operations read them. Called
    * several times during set-up; each call yields the same inputs. */
  def generate(rep: Int): Unit
  /** Untimed first operations (JIT, Spark caches, the workload's own
    * reference results). Counts toward set-up time. */
  def warm(): Unit
  /** The `i`-th timed operation. */
  def op(i: Int): Outcome
  /** Whether the operations so far form whole units of the workload (a
    * run only stops at a unit boundary). */
  def unitDone: Boolean = true
  /** How long one unit takes on the 4-core reference host, in seconds. */
  def unitSeconds: Double
  /** Workload-wide measurements taken after the loop (untimed). */
  def finish(traced: Boolean): Map[String, Any] = Map.empty
}

/** Benchmark process: builds the engine's tuned session, runs one workload
  * for the requested time and writes every raw measurement to a JSON
  * result file (run.py turns it into metrics).
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --work DIR --out FILE */
object Main {

  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val load1Start = load1()

    val t0 = System.nanoTime()
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    GraftSession.installOptimizations(spark)
    spark.sparkContext.setLogLevel("WARN")
    val buildS = (System.nanoTime() - t0) / 1e9

    val tr = new Trace(spark.sparkContext)
    if (traced) tr.install(spark)
    val w: Workload = workload match {
      case "export" => new ExportWorkload(spark, tr, seed, work)
      case "curate" => new CurateWorkload(spark, tr, seed, work)
      case "lakehouse" => new LakehouseWorkload(spark, tr, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: inputs made SetupReps times (the median is reported), then
    // one warm-up
    tr.enabled = traced
    val genS = (0 until SetupReps).map { rep =>
      val g0 = System.nanoTime()
      tr.span("setup.generate")(w.generate(rep))
      (System.nanoTime() - g0) / 1e9
    }
    // a failed warm-up is reported, not fatal: the timed operations still
    // run and their own checks say what is wrong
    val w0 = System.nanoTime()
    val setupError =
      try { tr.span("setup.warm")(w.warm()); None }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up failed: $e")
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val warmS = (System.nanoTime() - w0) / 1e9

    // closed loop, one client, a fixed amount of work: the whole units
    // whose reference length adds up to the requested seconds, at least
    // one. Stopping on the clock would let a faster run fit one more unit,
    // further along the JIT's warm-up, and read 10-20% faster for that
    // alone. A traced run runs at least four units and traces the odd
    // ones: unit 0 settles, and units 1 and 3 against unit 2 give the
    // tracing overhead with a steady warm-up trend cancelled out.
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    val planned = math.max(if (traced) 4 else 1,
      math.round(seconds / w.unitSeconds).toInt)
    var i = 0
    var units = 0
    do {
      val opTraced = traced && units % 2 == 1
      tr.enabled = opTraced
      val s0 = tr.nowUs()
      val res: Either[Throwable, Outcome] =
        try Right(tr.span("op") { tr.attr("op", i); w.op(i) })
        catch { case e: Throwable => Left(e) }
      val s1 = tr.nowUs()
      tr.enabled = false
      val problem = res match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(o) =>
          try o.check()
          catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      problem.foreach(p => System.err.println(s"[perfbench] op $i failed: $p"))
      val o = res.toOption
      ops += Map("i" -> i, "unit" -> units, "kind" -> o.map(_.kind).getOrElse("error"),
        "start_us" -> s0, "end_us" -> s1, "ok" -> problem.isEmpty,
        "error" -> problem.orNull, "rows" -> o.map(_.rows).getOrElse(0L),
        "traced" -> opTraced) ++ o.map(_.extra).getOrElse(Map.empty)
      i += 1
      if (w.unitDone) units += 1
    } while (units < planned)
    val loopS = (System.nanoTime() - loopStart) / 1e9

    val values = w.finish(traced)
    if (traced) tr.drain()
    val result = Map(
      "meta" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "cores" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "load1_start" -> load1Start, "load1_end" -> load1(),
        "peak_rss_mb" -> peakRssMb()),
      "setup" -> Map("build_s" -> buildS, "generate_s" -> genS,
        "warm_s" -> warmS, "error" -> setupError),
      "loop_s" -> loopS,
      "ops" -> ops.toSeq,
      "values" -> values,
      "trace" -> (if (traced) tr.toJson else null))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result)
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** 1-minute load average, -1 when unreadable. */
  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** This process' peak resident set (VmHWM), in MB; -1 when unreadable. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }
}
