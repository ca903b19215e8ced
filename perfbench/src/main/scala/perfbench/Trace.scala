package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a layer call, or a whole iteration (parent = -1).
  * Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      start: Long, var end: Long = 0L) {
  def group: String = s"perfbench:$iter:$id"
}

/** Executor counters of the tasks of one stage. */
final class StageAcc {
  val taskMs = ArrayBuffer.empty[Long]
  var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, output = 0L
}

final case class JobRec(id: Int, group: String, startMs: Long,
                        stages: Seq[Int], var endMs: Long = -1L)

/** Counts per executed physical plan: the plan-shape figures. */
final case class PlanShape(exchanges: Int, broadcastJoins: Int,
                           shuffleJoins: Int, interpreted: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    broadcastJoins + o.broadcastJoins, shuffleJoins + o.shuffleJoins,
    interpreted + o.interpreted)
}

object PlanShape {
  val zero: PlanShape = PlanShape(0, 0, 0, 0)

  /** Every operator of an executed plan, through adaptive wrappers, query
    * stages, command wrappers and subqueries. Reused exchanges are not
    * entered: their work ran once, where the original exchange sits. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec        => operators(q.plan)
    case _: ReusedExchangeExec    => Nil
    case c: CommandResultExec     => operators(c.commandPhysicalPlan)
    case _ => (p.children ++ p.subqueries).flatMap(operators)
  })

  /** Interpreted per-row functions: higher-order functions (their lambdas
    * and comparators) and any other expression without generated code. */
  private def interpreted(e: Expression): Int =
    e.collect {
      case h: HigherOrderFunction => h
      case f: CodegenFallback     => f
    }.size

  def of(plan: SparkPlan): PlanShape = operators(plan).map {
    case _: ShuffleExchangeLike => PlanShape(1, 0, 0, 0)
    case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
      PlanShape(0, 1, 0, 0)
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec => PlanShape(0, 0, 1, 0)
    // typed object lambdas (Dataset.map / mapPartitions) run user code per row
    case _: MapElementsExec | _: MapPartitionsExec => PlanShape(0, 0, 0, 1)
    case op => PlanShape(0, 0, 0, op.expressions.map(interpreted).sum)
  }.foldLeft(zero)(_ + _)
}

/** Spark-side counters for the benchmark: jobs and their job groups, task
  * metrics per stage, and per successful action its planning time and plan
  * shape. Everything is keyed so that the caller can attribute it to an
  * iteration (by wall time) or a span (by job group) after the iteration. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageAcc]()
  /** (epoch ms when planning ended, planning seconds, plan shape) */
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, PlanShape)]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val group = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(js.jobId, JobRec(js.jobId, group, js.time, js.stageIds))
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val acc = stages.computeIfAbsent(te.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.taskMs += te.taskInfo.duration
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planS = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3
    val at = phases.get("planning").map(_.endTimeMs)
      .getOrElse(System.currentTimeMillis())
    actions.add((at, planS, PlanShape.of(qe.executedPlan)))
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()

  def jobsIn(pred: JobRec => Boolean): Seq[JobRec] =
    jobs.values.asScala.filter(pred).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageAcc] =
    js.flatMap(j => j.stages.filter(s => stageJob.get(s) == j.id))
      .flatMap(s => Option(stages.get(s)))
}

object Counters {
  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Records spans in memory. Each span runs its body under its own Spark job
  * group, so jobs (and their tasks) are tied to the innermost open span. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var iter = 0

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      iter, System.nanoTime())
    spans += s
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    open = s :: open
    sc.setJobGroup(s.group, name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      outer match {
        case Some(g) => sc.setJobGroup(g, "")
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Self time per span, in nanoseconds. */
  def selfTimes(of: Seq[Span]): Map[Int, Long] = {
    val kids = of.groupBy(_.parent)
    of.map { s =>
      s.id -> Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = selfTimes(spans.toSeq)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
