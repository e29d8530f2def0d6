package casprbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * JVM side of the benchmark; `run.py` drives it and `gen.py` writes its
 * inputs. Modes:
 *
 *  - `probe`: build the session and report the set-up time.
 *  - `run <workload> <data> <work> <seconds> <trace 0|1> <trace.jsonl>`:
 *    one cold job, closed-loop warm jobs for `seconds`, the output check,
 *    and with trace 1 one traced job whose spans go to `trace.jsonl`.
 *
 * Each mode prints one JSON line last on stdout.
 */
object Main {

  /** The session exactly as graft.Bench builds it, on all local cores;
    * returns it with the seconds since JVM start. */
  def session(): (SparkSession, Double) = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - start) / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val line = try args.toList match {
      case "probe" :: Nil =>
        val (spark, setup) = session()
        spark.stop()
        Json.obj("setup_s" -> setup)
      case "run" :: workload :: data :: work :: seconds :: trace :: traceFile :: Nil =>
        run(Workload.all(workload), data, work, seconds.toDouble, trace == "1", traceFile)
      case _ =>
        System.err.println(s"usage: see casprbench.Main; got ${args.mkString(" ")}")
        sys.exit(2)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    println(line)
    sys.exit(0)
  }

  private def run(w: Workload, data: String, work: String, seconds: Double,
      trace: Boolean, traceFile: String): String = {
    val (spark, setup) = session()
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (errors.size < 5) errors += msg }

    /** One closed-loop job: its outputs when it passed, and its wall time. */
    def attempt(tr: Tracer): (Option[w.Out], Double) = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val o = w.job(spark, data, work, tr)
        val s = (System.nanoTime() - t0) / 1e9
        w.jobFailure(o) match {
          case Some(msg) => fail(msg); (None, s)
          case None => (Some(o), s)
        }
      } catch {
        case e: Exception =>
          fail(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          (None, (System.nanoTime() - t0) / 1e9)
      }
    }

    val off = Tracer.off(spark)
    val (coldOut, cold) = attempt(off)
    var last = coldOut
    val warm = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || (warm.size < 2 && elapsed < 3 * seconds)) {
      val (o, s) = attempt(off)
      if (o.isDefined) { warm += s; last = o }
    }

    val check = last.map { o =>
      try w.check(spark, data, o)
      catch { case e: Exception => Check(Seq(s"check threw: ${e.getMessage}".take(300)), Map()) }
    }.getOrElse(Check(Seq("no job passed"), Map()))
    if (check.failures.nonEmpty) fail(check.failures.mkString("; "))

    val traced: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val tr = Tracer.on(spark)
        val (o, wall) = attempt(tr)
        val lines = tr.finish()
        Files.write(Paths.get(traceFile), lines.mkString("", "\n", "\n").getBytes(UTF_8))
        Map("wall_s" -> wall) ++
          o.map(w.extras(spark, data, work, _, check)).getOrElse(Map.empty)
      }
    spark.stop()
    Json.obj("setup_s" -> setup, "cold_s" -> cold, "warm_s" -> warm.toSeq,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "quality" -> check.quality, "cores" -> Runtime.getRuntime.availableProcessors,
      "traced" -> traced)
  }
}
