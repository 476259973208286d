package tickbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One timed interval around a call into a layer. Spans of one tick (or
  * one read, one query) share a trace id; `parent` is the enclosing span's
  * id, -1 at the root.
  */
final case class Span(id: Int, traceId: String, name: String,
    startNs: Long, endNs: Long, parent: Int) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Engine work attributed to one job group (= one span name). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  /** max / median task run time over the group's stages with ≥ 4 tasks */
  var taskSkew = 0.0
  var sqlExecutions = 0L
}

/** Spans kept in memory plus a SparkListener and a QueryExecutionListener
  * that attribute jobs, stages, tasks, shuffle, spill and output bytes to the
  * innermost open span through Spark's job group. Disabled, `span` only
  * runs its body: the untraced run pays nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long)] // (id, name, start)
  private var traceId = ""
  val groups = mutable.Map[String, GroupStats]()
  /** physical operator records: (group, operator, metric name → value) */
  val operators = mutable.ArrayBuffer[(String, String, Map[String, Long])]()

  private val stageGroup = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val execGroup = mutable.Map[Long, String]()

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("untraced")
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(id => execGroup(id.toLong) = g)
      stats(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val id = e.stageInfo.stageId
        val g = stats(stageGroup.getOrElse(id, "untraced"))
        g.stages += 1
        stageTaskMs.remove(id).filter(_.size >= 4).foreach { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).max(1L)
          g.taskSkew = g.taskSkew.max(sorted.last.toDouble / med)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val g = stats(stageGroup.getOrElse(e.stageId, "untraced"))
        g.tasks += 1
        g.taskMs += m.executorRunTime
        g.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        g.bytesWritten += m.outputMetrics.bytesWritten
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
          .append(m.executorRunTime)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Tracer.this.synchronized {
      val g = execGroup.getOrElse(qe.id, "untraced")
      stats(g).sqlExecutions += 1
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
          operators += ((g, p.nodeName,
            p.metrics.map { case (k, v) => k -> v.value }))
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(sqlListener)
  }

  def beginTrace(id: String): Unit = traceId = id

  /** Times `body` as a span named `name` whose Spark jobs run under the
    * job group `name`.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val id = spans.size + open.size
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      sc.setJobGroup(name, name)
      try body
      finally {
        val (sid, sname, start) = open.head
        open = open.tail
        spans += Span(sid, traceId, sname, start, System.nanoTime(), parent)
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Runs `body` (a check, or a read the check needs) under the job group
    * "untraced", outside every span.
    */
  def untraced[T](body: => T): T =
    if (!enabled) body
    else {
      val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup("untraced", "untraced")
      try body
      finally prev match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
    }

  private val cached = mutable.ArrayBuffer[DataFrame]()

  /** Unpersists every frame [[boundary]] cached. */
  def release(): Unit = {
    cached.foreach(_.unpersist(blocking = false))
    cached.clear()
  }

  /** In the traced run, materializes a layer's output at its boundary
    * (cached, forced through the noop sink) so the next layer reuses it and
    * each layer's time is its own. Untraced, the frame is returned as is.
    */
  def boundary(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached += c
      Force.rows(c)
      c
    }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBridge.drain(sc)

  /** Self time per span: its duration minus the union of the intervals
    * its direct children cover.
    */
  def selfTimes: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = curE.max(b)
      }
      covered += curE - curS
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(sqlListener)
  }
}

object Force {
  /** Runs the whole plan through the noop sink and returns its row count
    * from an Observation: unlike count(), Catalyst cannot prune columns or
    * windows the plan computes.
    */
  def rows(df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** [[rows]] plus a checksum of `cols` observed in the same pass: a sum
    * of row hashes, so it ignores row order and two disjoint parts add up
    * to their union.
    */
  def rowsAndHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(2147483647L))),
          lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("h").asInstanceOf[Long])
  }
}
