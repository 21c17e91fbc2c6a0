package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval; times are milliseconds since the epoch. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** One timed operation of a pass. `buildEnd` splits the call that constructs
  * the operation (a query's `fn(spark, dir)`) from its action; `group` is the Spark job group its jobs run under.
  */
final case class Op(kind: String, name: String, start: Double, buildEnd: Double,
    end: Double, group: String) {
  def seconds: Double = (end - start) / 1e3
}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * scale as the times Spark stamps on its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced run's recorder. It listens through Spark's public listener
  * interfaces only — `SparkListener` for jobs, stages and tasks,
  * `QueryExecutionListener` for the planning phases and write statistics,
  * `StreamingQueryListener` for micro-batch epochs — and keeps everything
  * in memory. [[takePass]] turns one pass's events into spans (each timed
  * operation is a root; its jobs, stages and planning phases are children)
  * plus the per-layer totals of that pass.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private final class JobRec(val id: Int, val group: String, val batch: String,
      val start: Double, val stageIds: Seq[Int]) { var end: Double = start }
  private final class StageRec(val id: Int, val start: Double) {
    var end: Double = start
    var tasks = 0L
    val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val epochs = mutable.ArrayBuffer.empty[EpochRec]
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val batch = prop("streaming.sql.batchId")
      jobs(e.jobId) = new JobRec(e.jobId, prop("spark.jobGroup.id"),
        if (batch.isEmpty) "" else s"${prop("sql.streaming.queryId")}/$batch",
        e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages(i.stageId) = new StageRec(i.stageId,
        i.submissionTime.map(_.toDouble).getOrElse(Clock.ms()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach(_.end = i.completionTime.map(_.toDouble).getOrElse(Clock.ms()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        val t = e.taskMetrics
        if (t != null) {
          val m = s.m
          m("task_s") += t.executorRunTime / 1e3
          m("cpu_s") += t.executorCpuTime / 1e9
          m("gc_s") += t.jvmGCTime / 1e3
          m("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
          m("shuffle_read_bytes") += t.shuffleReadMetrics.totalBytesRead
          m("fetch_wait_s") += t.shuffleReadMetrics.fetchWaitTime / 1e3
          m("spill_bytes") += t.memoryBytesSpilled + t.diskBytesSpilled
          m("read_bytes") += t.inputMetrics.bytesRead
          m("write_bytes") += t.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def writtenFiles(plan: SparkPlan): Double = plan match {
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0) + writtenFiles(w.child)
    case a: AdaptiveSparkPlanExec => writtenFiles(a.executedPlan)
    case q: QueryStageExec => writtenFiles(q.plan)
    case p => p.children.map(writtenFiles).sum
  }

  private val planListener = new QueryExecutionListener {
    private def record(name: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
      }
      val files = scala.util.Try(writtenFiles(qe.executedPlan)).getOrElse(0.0)
      lock.synchronized { plans += PlanRec(name, phases, files) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(f, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      lock.synchronized {
        epochs += EpochRec(p.id.toString, p.batchId, start,
          start + d.getOrElse("triggerExecution", 0.0), d, p.numInputRows.toDouble)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val sorted = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((a, b) <- sorted) {
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Spans and per-layer totals of the pass whose operations were `ops`;
    * clears the recorded events. Epoch roots come from streaming progress.
    */
  def takePass(ops: Seq[Op]): (Seq[Span], Map[String, Double]) = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    lock.synchronized {
      val spans = mutable.ArrayBuffer.empty[Span]
      val opRoots = ops.map(o => o -> Span(newId(), 0, o.kind, o.name, o.start, o.end))
      val epochRoots = epochs.map(e => e -> Span(newId(), 0, "epoch", s"batch ${e.batchId}",
        e.start, e.end, e.durations + ("rows_in" -> e.rowsIn)))
      val roots = opRoots.map(_._2) ++ epochRoots.map(_._2)
      val byGroup = opRoots.map { case (o, s) => o.group -> s }.toMap
      val byBatch = epochRoots.map { case (e, s) => s"${e.queryId}/${e.batchId}" -> s }.toMap
      def rootAt(t: Double): Long =
        roots.find(r => r.start <= t && t <= r.end).map(_.id).getOrElse(0L)
      spans ++= roots
      opRoots.foreach { case (o, s) =>
        if (o.buildEnd > o.start) spans += Span(newId(), s.id, "build", o.name, o.start, o.buildEnd)
      }
      val jobSpan = jobs.values.map { j =>
        val parent = byGroup.get(j.group).orElse(byBatch.get(j.batch)).map(_.id)
          .getOrElse(rootAt(j.start))
        j -> Span(newId(), parent, "job", s"job ${j.id}", j.start, j.end)
      }.toSeq
      spans ++= jobSpan.map(_._2)
      // a stage listed by several jobs runs in the first; later ones skip it
      val stageJob = jobSpan.reverse.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }.toMap
      val stageSpans = stages.values.map { st =>
        Span(newId(), stageJob.getOrElse(st.id, rootAt(st.start)), "stage", s"stage ${st.id}",
          st.start, st.end, st.m.toMap + ("tasks" -> st.tasks.toDouble))
      }.toSeq
      spans ++= stageSpans
      val phaseIvs = mutable.ArrayBuffer.empty[(Double, Double)]
      plans.foreach { p =>
        if (p.phases.nonEmpty) {
          val lo = p.phases.values.map(_._1).min; val hi = p.phases.values.map(_._2).max
          val ps = Span(newId(), rootAt(lo), "plan", p.name, lo, hi,
            Map("files_written" -> p.filesWritten))
          spans += ps
          p.phases.foreach { case (k, (a, b)) =>
            spans += Span(newId(), ps.id, s"plan.$k", p.name, a, b)
            phaseIvs += ((a, b))
          }
        }
      }
      def phase(k: String) = plans.flatMap(_.phases.get(k)).map { case (a, b) => b - a }.sum / 1e3
      def stageSum(k: String) = stages.values.map(_.m(k)).sum
      def epochSum(ks: String*) = epochs.map(e => ks.map(e.durations.getOrElse(_, 0.0)).sum).sum / 1e3
      val stageIvs = stages.values.map(s => (s.start, s.end))
      val rootMs = roots.map(_.ms).sum
      val gapMs = roots.map(r => r.ms - covered(stageIvs ++ phaseIvs, r.start, r.end)).sum
      val queryOps = opRoots.filter(_._1.kind == "query")
      val eager = jobSpan.count { case (j, s) =>
        queryOps.exists { case (o, r) => r.id == s.parent && j.start < o.buildEnd }
      }
      val layers = Map(
        "queries.build_s" -> queryOps.map { case (o, _) => (o.buildEnd - o.start) / 1e3 }.sum,
        "queries.eager_jobs" -> eager.toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "sched.jobs" -> jobs.size.toDouble,
        "sched.stages" -> stages.size.toDouble,
        "sched.tasks" -> stages.values.map(_.tasks).sum.toDouble,
        "sched.stage_gap_s" -> gapMs / 1e3,
        "exec.task_s" -> stageSum("task_s"),
        "exec.cpu_s" -> stageSum("cpu_s"),
        "exec.gc_s" -> stageSum("gc_s"),
        "exec.cores_eff" -> (if (rootMs > 0) stageSum("task_s") / (rootMs / 1e3) else 0.0),
        "shuffle.write_bytes" -> stageSum("shuffle_write_bytes"),
        "shuffle.read_bytes" -> stageSum("shuffle_read_bytes"),
        "shuffle.fetch_wait_s" -> stageSum("fetch_wait_s"),
        "spill.bytes" -> stageSum("spill_bytes"),
        "io.read_bytes" -> stageSum("read_bytes"),
        "io.write_bytes" -> stageSum("write_bytes"),
        "io.files_written" -> plans.map(_.filesWritten).sum,
        "stream.epochs" -> epochs.size.toDouble,
        "stream.rows_in" -> epochs.map(_.rowsIn).sum,
        "stream.add_batch_s" -> epochSum("addBatch"),
        "stream.plan_s" -> epochSum("queryPlanning"),
        "stream.offset_s" -> epochSum("latestOffset", "getBatch"),
        "stream.commit_s" -> epochSum("walCommit", "commitOffsets"))
      jobs.clear(); stages.clear(); plans.clear(); epochs.clear()
      (withSelfTimes(spans.toSeq), layers)
    }
  }

  /** Adds `self_ms` to every span: its duration minus the part of it its
    * children cover (children run in parallel, so overlaps count once).
    */
  private def withSelfTimes(spans: Seq[Span]): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.copy(attrs = s.attrs + ("self_ms" -> (s.ms - covered(c, s.start, s.end))))
    }
  }
}

object Tracer {
  private final case class PlanRec(name: String, phases: Map[String, (Double, Double)],
      filesWritten: Double)
  private final case class EpochRec(queryId: String, batchId: Long, start: Double,
      end: Double, durations: Map[String, Double], rowsIn: Double)
}

/** Per-layer summary of a traced run: for each span kind, its count, total
  * time and self time (time not covered by its children).
  */
object SpanSummary {
  def apply(spans: Seq[Span]): Map[String, Map[String, Double]] =
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> Map("count" -> ss.size.toDouble, "total_s" -> ss.map(_.ms).sum / 1e3,
        "self_s" -> ss.map(_.attrs.getOrElse("self_ms", 0.0)).sum / 1e3)
    }
}
