package perfbench

import java.nio.file.Path
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Splits each query into the layers the engine's modules form:
  *
  *  - build: everything the `SparkEntry` builder runs while it constructs
  *    the DataFrame (eager checkpoints, counts, streaming drains, store
  *    writes);
  *  - plan: analysis, optimization and physical planning of the final
  *    plan, from the `QueryPlanningTracker` of the final write;
  *  - exec: the rest of the final write.
  *
  * Jobs and stages are attributed to the layer that was running when they
  * were posted: the listener bus is drained at each layer boundary, so
  * jobs submitted from other driver threads (the dedup ladder's futures)
  * land in the right layer too. Micro-batches come from a
  * `StreamingQueryListener`, fixture-store writes from scratch-root
  * snapshots taken before and after the query.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class Work {
    var jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill, gcMs = 0L
    def json: Json.Obj = Json.obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_cpu_s" -> cpuNs / 1e9, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill, "gc_s" -> gcMs / 1e3)
  }

  private final class Streams {
    val batchMs = mutable.ArrayBuffer.empty[Long]
    var commitMs = 0L
    val stateRows = mutable.Map.empty[UUID, Long]
    def json: Json.Obj = Json.obj("batches" -> batchMs.size, "batch_ms" -> batchMs.toSeq,
      "commit_ms" -> commitMs, "state_rows" -> stateRows.values.sum)
  }

  // The counters of the layer now running; swapped at each boundary.
  private var work = new Work
  private var streams = new Streams
  private var lastWrite: Option[QueryExecution] = None

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      work.jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      work.stages += 1
      work.tasks += i.numTasks
      Option(i.taskMetrics).foreach { m =>
        work.cpuNs += m.executorCpuTime
        work.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        work.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        work.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        work.gcMs += m.jvmGCTime
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized { lastWrite = Some(qe) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized { lastWrite = Some(qe) }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        streams.batchMs += ms("triggerExecution")
        streams.commitMs += ms("walCommit") + ms("commitOffsets")
        streams.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
  })

  /** Drains the bus and hands over everything recorded since the last
    * boundary. */
  private def boundary(): (Work, Streams, Option[QueryExecution]) = {
    Bus.drain(sc)
    synchronized {
      val out = (work, streams, lastWrite)
      work = new Work
      streams = new Streams
      lastWrite = None
      out
    }
  }

  def traceQuery(name: String, pass: Int, scratch: Path, build: () => DataFrame): Json.Obj = {
    val storeBefore = Store.snapshot(scratch)
    boundary()
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val buildErr = Harness.attempt { df = build() }
    val t1 = System.nanoTime()
    val (buildWork, buildStreams, _) = boundary()
    val t2 = System.nanoTime()
    val finalErr = if (buildErr.isDefined) None
      else Harness.attempt(Harness.noop(df))
    val t3 = System.nanoTime()
    val (execWork, execStreams, write) = boundary()
    val storeAfter = Store.snapshot(scratch)

    val wallS = (t3 - t0) / 1e9
    val buildS = (t1 - t0) / 1e9
    val finalS = (t3 - t2) / 1e9
    val planS = write.map(_.tracker.phases.values.map(_.durationMs).sum / 1e3).getOrElse(0.0)
    val execS = math.max(0.0, finalS - planS)
    buildStreams.batchMs ++= execStreams.batchMs
    buildStreams.commitMs += execStreams.commitMs
    buildStreams.stateRows ++= execStreams.stateRows
    val err = buildErr.orElse(finalErr)
    Json.obj(
      "name" -> name, "pass" -> pass, "ok" -> err.isEmpty, "error" -> err.orNull,
      "wall_s" -> wallS, "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
      "unattributed_s" -> (wallS - buildS - planS - execS),
      "build" -> buildWork.json, "exec" -> execWork.json,
      "plan" -> write.map(qe => Tracer.shape(qe.executedPlan)).getOrElse(Tracer.shape(null)),
      "stream" -> buildStreams.json,
      "store_bytes_written" -> Store.bytesWritten(storeBefore, storeAfter),
    )
  }
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages into subqueries; a reused exchange is a leaf. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Plan-shape counts. `dup_subtrees` counts file scans whose canonical
    * form (table, columns, filters) already appeared in the plan: each one
    * re-reads input that an earlier scan in the same plan read. */
  def shape(plan: SparkPlan): Json.Obj = {
    val all = Option(plan).map(nodes).getOrElse(Nil)
    val scans = all.filter {
      case _: FileSourceScanExec | _: BatchScanExec => true
      case _ => false
    }
    Json.obj(
      "scans" -> scans.size,
      "exchanges" -> all.count(_.isInstanceOf[Exchange]),
      "windows" -> all.count(_.isInstanceOf[WindowExec]),
      "bnl_joins" -> all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "dup_subtrees" -> (scans.size - scans.map(_.canonicalized).distinct.size),
    )
  }
}
