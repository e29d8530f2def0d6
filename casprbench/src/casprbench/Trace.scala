package casprbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/**
 * Span recorder for one traced job, wrapped around calls into the
 * program's public functions from the benchmark side. A span is (name,
 * start, end, parent, run id). Each span sets the Spark job group, so the
 * listener can charge task metrics, job intervals and planning phases to
 * it; janino compile time is the CodeGenerator total sampled at the span's
 * edges. Spans stay in memory until [[finish]] returns them as JSON lines.
 *
 * The untraced tracer ([[Tracer.off]]) runs each body unchanged and
 * registers nothing, so the timed runs pay no tracing cost.
 */
final class Tracer private (spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private val group = s"casprbench-$runId-"
  private final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Double) {
    var endMs = 0.0
    var codegenNs = 0L
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val held = mutable.ArrayBuffer[DataFrame]()
  private val listener = if (on) new Tracer.Listener(group) else null
  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0),
        System.currentTimeMillis().toDouble)
      spans += s
      stack = s :: stack
      sc.setJobGroup(group + s.id, name)
      val cg0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try body
      finally {
        s.endMs = s.startMs + (System.nanoTime() - t0) / 1e6
        s.codegenNs = CodeGenerator.compileTime - cg0
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A layer boundary: traced runs persist and materialize `df` so the
    * next layer's span holds only its own work; untraced runs leave the
    * plan whole. */
  def boundary(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      held += p
      p
    }

  /** Drops the frames [[boundary]] persisted. */
  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }

  /** Stops listening and returns the run's spans, jobs and planning
    * phases as JSON lines. */
  def finish(): Seq[String] = {
    if (!on) return Nil
    org.apache.spark.casprbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    val l = listener
    l.synchronized {
      spans.map { s =>
        val c = l.counters.getOrElse(s.id, new Array[Double](Tracer.NCounters))
        Json.obj("type" -> "span", "run" -> runId, "id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "codegen_s" -> s.codegenNs / 1e9, "jobs" -> c(0), "tasks" -> c(1),
          "task_s" -> c(2) / 1e3, "gc_s" -> c(3) / 1e3, "shuffle_mb" -> c(4) / 1e6,
          "spill_mb" -> c(5) / 1e6, "peak_exec_mb" -> c(6) / 1e6)
      }.toSeq ++
      l.jobs.values.filter(_._3 > 0).toSeq.sortBy(_._2).map { case (span, s, e) =>
        Json.obj("type" -> "job", "run" -> runId, "span" -> span,
          "start_ms" -> s, "end_ms" -> e)
      } ++
      l.phases.map { case (s, d) =>
        Json.obj("type" -> "plan", "run" -> runId, "start_ms" -> s, "dur_s" -> d / 1e3)
      } :+
      Json.obj("type" -> "storage", "run" -> runId, "peak_cached_mb" -> l.peakCached / 1e6)
    }
  }
}

object Tracer {
  def off(spark: SparkSession): Tracer = new Tracer(spark, on = false)
  def on(spark: SparkSession): Tracer = new Tracer(spark, on = true)

  /** Per-span counter slots: jobs, tasks, run ms, GC ms, shuffle bytes
    * written, bytes spilled to disk, max task peak execution memory. */
  private val NCounters = 7

  private final class Listener(group: String) extends SparkListener
      with QueryExecutionListener {
    val counters = mutable.Map[Int, Array[Double]]()
    /** job id -> (span, start ms, end ms) */
    val jobs = mutable.Map[Int, (Int, Long, Long)]()
    val phases = mutable.ArrayBuffer[(Long, Long)]()
    private val stageSpan = mutable.Map[Int, Int]()
    private val cached = mutable.Map[String, Long]()
    private var cachedNow = 0L
    var peakCached = 0L

    private def of(span: Int) = counters.getOrElseUpdate(span, new Array[Double](NCounters))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith(group)).map(_.stripPrefix(group).toInt).getOrElse(0)
      jobs(e.jobId) = (span, e.time, 0L)
      e.stageIds.foreach(stageSpan(_) = span)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (span, s, _) =>
        jobs(e.jobId) = (span, s, e.time)
        of(span)(0) += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val c = of(stageSpan.getOrElse(e.stageId, 0))
      c(1) += 1
      if (m != null) {
        c(2) += m.executorRunTime
        c(3) += m.jvmGCTime
        c(4) += m.shuffleWriteMetrics.bytesWritten
        c(5) += m.diskBytesSpilled
        c(6) = math.max(c(6), m.peakExecutionMemory.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cachedNow += now - cached.getOrElse(key, 0L)
        cached(key) = now
        peakCached = math.max(peakCached, cachedNow)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }
  }
}

/** Minimal JSON writer for the benchmark's flat records. */
object Json {
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
  }
  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
