package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine figures gathered for one span. */
final class EngineStats {
  @volatile var planMs = 0.0
  @volatile var taskCpuNs = 0L
  @volatile var stages = 0
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  /** Rows out of Generate nodes (`explode`): tokens the engine produced. */
  @volatile var generatedRows = 0L
  /** Files the engine's `binaryFile` scans read. */
  @volatile var binaryFilesRead = 0L
  val stageIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** A closed span: wall times in ns (System.nanoTime) and ms (epoch, to
  * compare with stage times), codegen compile time, engine figures. */
final case class Span(id: Int, parent: Int, name: String, workload: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    codegenNs: Long, stats: EngineStats, failed: Boolean) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spans recorded from the benchmark's own code around each call into the
  * engine. Stage and task metrics reach a span through the Spark job group
  * set for its duration; query planning time and the row and file counts
  * of the executed plans through a QueryExecutionListener, delivered
  * before the span closes because the tracer drains the listener bus at
  * both span edges. Spans stay in
  * memory and are written out once, when the run ends. */
final class Tracer(spark: SparkSession, workload: String, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, EngineStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var planTarget: EngineStats = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  /** When false, `span` runs its body bare (the untraced comparison ops). */
  var on = enabled

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && byGroup.containsKey(g))
        e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).map(byGroup.get).foreach { st =>
        val m = e.taskMetrics
        if (m != null) st.synchronized {
          st.taskCpuNs += m.executorCpuTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).map(byGroup.get).foreach { st =>
        val i = e.stageInfo
        st.synchronized {
          st.stages += 1
          for (a <- i.submissionTime; b <- i.completionTime) st.stageIntervals += ((a, b))
        }
      }
  }

  /** Every physical node a finished query ran: through adaptive plans,
    * query stages, reused exchanges, subqueries and cached relations. */
  private def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case r: ReusedExchangeExec => visit(r.child)
        case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(root)
    out.toSeq
  }

  /** Last value read of each SQL metric, by accumulator id: a node met
    * again (a cached relation, a reused exchange) counts only what it
    * added since, so its work is counted once. */
  private val lastValue = mutable.HashMap.empty[Long, Long]
  private def delta(m: Option[SQLMetric]): Long = m.fold(0L) { m =>
    val v = m.value
    val d = v - lastValue.getOrElse(m.id, 0L)
    lastValue(m.id) = v
    d
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = lastValue.synchronized {
      var rows = 0L
      var files = 0L
      nodes(qe.executedPlan).foreach {
        case g: GenerateExec => rows += delta(g.metrics.get("numOutputRows"))
        case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
          files += delta(f.metrics.get("numFiles"))
        case _ =>
      }
      val t = planTarget
      if (t != null) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        t.synchronized {
          t.planMs += ms
          t.generatedRows += rows
          t.binaryFilesRead += files
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = PerfbenchBus.drain(sc)

  /** Run `f` as span `name`. */
  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val group = s"perfbench-$id"
    val stats = new EngineStats
    byGroup.put(group, stats)
    drain()
    val outerTarget = planTarget
    planTarget = stats
    stack.push(id)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val cg0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    var ok = false
    try {
      val out = f
      ok = true
      drain()
      val t1 = System.nanoTime()
      spans += Span(id, parent, name, workload, t0, t1, w0,
        System.currentTimeMillis(), CodeGenerator.compileTime - cg0, stats,
        failed = false)
      out
    } finally {
      if (!ok) {
        drain()
        spans += Span(id, parent, name, workload, t0, System.nanoTime(), w0,
          System.currentTimeMillis(), CodeGenerator.compileTime - cg0, stats,
          failed = true)
      }
      stack.pop()
      planTarget = outerTarget
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Wall time of a span minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.durMs - kids.map(_.durMs).sum
  }

  /** Span wall time not covered by any of its own stages running:
    * planning, scheduling and result handling between stages. */
  def gapMs(s: Span): Double = {
    val iv = s.stats.stageIntervals.synchronized(s.stats.stageIntervals.toSeq)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs) - covered)
  }

  /** Write every span as one JSON line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""workload":"${s.workload}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ms":${selfMs(s)},"plan_ms":${s.stats.planMs},""" +
        s""""codegen_ms":${s.codegenNs / 1e6},"task_cpu_ms":${s.stats.taskCpuNs / 1e6},""" +
        s""""stages":${s.stats.stages},"shuffle_bytes":${s.stats.shuffleBytes},""" +
        s""""spill_bytes":${s.stats.spillBytes},"gap_ms":${gapMs(s)},""" +
        s""""generated_rows":${s.stats.generatedRows},""" +
        s""""binary_files_read":${s.stats.binaryFilesRead},"failed":${s.failed}}"""
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}
