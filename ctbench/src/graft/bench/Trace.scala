package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One SQL execution as Spark's public listeners report it. */
final case class Exec(id: Long, token: String, planMs: Double, planEndMs: Long,
    startMs: Long, endMs: Long, files: Long, rowsScanned: Long, bytesRead: Long,
    rowsOut: Long, tasks: Long) {
  /** Execution time outside the plan phases. */
  def execMs: Double = (endMs - math.max(startMs, planEndMs)).toDouble
}

/** One call the Server made into the table closure (`CertStore.read`). */
final case class ReadCall(token: String, thread: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Tracing from outside the program: Spark's public listeners plus timing of
  * the benchmark's own calls. The table closure handed to the Server tags
  * every Spark job the calling thread submits with a token, so each request's
  * SQL executions can be told apart. Installed only for `--trace 1`. */
final class Trace(spark: SparkSession) {
  private val TokenKey = "ctbench.token"
  private val seq = new AtomicLong
  val reads = new java.util.concurrent.ConcurrentLinkedQueue[ReadCall]()

  private val execToken = new ConcurrentHashMap[Long, String]()
  private val execStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execEnd = new ConcurrentHashMap[Long, java.lang.Long]()
  private val stageExec = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execTasks = new ConcurrentHashMap[Long, AtomicLong]()
  private val pending = new ConcurrentHashMap[Long, QueryExecution]()
  private val qeExec = new ConcurrentHashMap[Long, java.lang.Long]()
  val execs = new ConcurrentHashMap[Long, Exec]()

  // engine-wide counters
  val jobs, tasks, cpuNs, gcMs, inputBytes, shuffleWriteBytes, outputBytes = new AtomicLong

  /** The Server's table: `CertStore.read`, timed and tagged. */
  def table(storePath: String): () => DataFrame = () => {
    val token = s"${Thread.currentThread.getName}#${seq.incrementAndGet()}"
    spark.sparkContext.setLocalProperty(TokenKey, token)
    val t0 = System.nanoTime()
    val df = graft.ct.CertStore.read(spark, storePath)
    reads.add(ReadCall(token, Thread.currentThread.getName, t0, System.nanoTime()))
    df
  }

  private object scans extends AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[SparkPlan] = collect(p) { case s: DataSourceScanExec => s }
    def firstRows(p: SparkPlan): Long =
      collectFirst(p) { case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value }
        .getOrElse(-1L)
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending.put(qe.id, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pending.put(qe.id, qe)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      exec.foreach { id =>
        // a QueryExecution's own id is not its SQL execution id; the
        // running execution's registry links the two
        Option(SQLExecution.getQueryExecution(id)).foreach(qe => qeExec.put(qe.id, id))
        props.flatMap(p => Option(p.getProperty(TokenKey))).foreach(execToken.put(id, _))
        e.stageIds.foreach(s => stageExec.put(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(stageExec.get(e.stageId)).foreach(id =>
        execTasks.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet())
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => execEnd.put(s.executionId, s.time)
      case _ => ()
    }
  }

  def install(): Unit = {
    spark.listenerManager.register(sqlListener)
    spark.sparkContext.addSparkListener(sparkListener)
  }

  /** Wait for the listener bus, then turn finished executions into records. */
  def settle(): Unit = {
    Thread.sleep(300)
    def execOf(qeId: Long): Option[Long] = Option(qeExec.get(qeId)).map(_.longValue)
    val deadline = System.currentTimeMillis() + 5000
    while (pending.keySet.asScala.exists(q => execOf(q).exists(id => !execEnd.containsKey(id))) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    pending.asScala.toSeq.foreach { case (qeId, qe) =>
      val phases = qe.tracker.phases.values
      val plan = scans.of(qe.executedPlan)
      val id = execOf(qeId).getOrElse(-1L)
      val end = Option(execEnd.get(id)).map(_.longValue).getOrElse(System.currentTimeMillis())
      execs.put(qeId, Exec(id, Option(execToken.get(id)).getOrElse(""),
        phases.map(_.durationMs).sum.toDouble,
        if (phases.isEmpty) 0L else phases.map(_.endTimeMs).max,
        Option(execStart.get(id)).map(_.longValue).getOrElse(end), end,
        plan.map(metric(_, "numFiles")).sum, plan.map(metric(_, "numOutputRows")).sum,
        plan.map(metric(_, "filesSize")).sum, scans.firstRows(qe.executedPlan),
        Option(execTasks.get(id)).map(_.get).getOrElse(0L)))
      pending.remove(qeId)
    }
  }

  def execsFor(token: String): Seq[Exec] = execs.values.asScala.filter(_.token == token).toSeq
}
