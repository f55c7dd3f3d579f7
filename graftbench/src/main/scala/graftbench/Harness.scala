package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed call of a pass: `build` (the query-pack function), `plan`
  * (forcing the executed plan) or `action` (the fingerprint). */
final case class Phase(kind: String, startMs: Long, endMs: Long)

/** One cold or warm pass of one query. `error` is set when the pass
  * threw or its fingerprint did not match the expected one. */
final case class Pass(query: String, round: Int, label: String,
                      traced: Boolean, buildS: Double, planS: Double,
                      actionS: Double, fingerprint: String,
                      error: Option[String], phases: Seq[Phase],
                      planNodes: Int, cacheMb: Double, cacheDiskMb: Double,
                      cacheEntries: Int) {
  def totalS: Double = buildS + planS + actionS
  def startMs: Long = phases.headOption.map(_.startMs).getOrElse(0L)
  def endMs: Long = phases.lastOption.map(_.endMs).getOrElse(0L)
}

object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Nodes of the plan that actually ran: the final adaptive plan, the
    * plans inside its query stages, and subqueries. */
  def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => 1 + planNodes(s.plan)
    case _ => 1 + p.children.map(planNodes).sum + p.subqueries.map(planNodes).sum
  }
}

/** Runs passes of registered queries against one data directory and
  * checks each pass's fingerprint against `expected` (query -> print).
  * With `record`, a missing expectation is not a failure. */
final class Harness(spark: SparkSession, dataDir: String,
                    expected: Map[String, String], record: Boolean) {
  import Harness._

  private def now: Long = System.currentTimeMillis()

  def pass(name: String, fn: Query, round: Int, label: String,
           traced: Boolean): Pass = {
    val phases = scala.collection.mutable.ArrayBuffer.empty[Phase]
    val secs = scala.collection.mutable.Map("build" -> 0.0, "plan" -> 0.0, "action" -> 0.0)
    def timed[T](kind: String)(body: => T): T = {
      val t0 = now
      val n0 = System.nanoTime()
      try body finally {
        secs(kind) = (System.nanoTime() - n0) / 1e9
        phases += Phase(kind, t0, now)
      }
    }
    var print = ""
    var nodes = 0
    val error = try {
      val df = timed("build")(fn(spark, dataDir))
      val fp = timed("plan") {
        val f = Fingerprint.frame(df)
        f.queryExecution.executedPlan
        f
      }
      print = Fingerprint.render(timed("action")(fp.collect().head))
      if (traced) nodes = planNodes(fp.queryExecution.executedPlan)
      expected.get(name) match {
        case Some(want) if want != print => Some(s"fingerprint $print, expected $want")
        case None if !record => Some(s"no expected fingerprint (got $print)")
        case _ => None
      }
    } catch {
      case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val (mem, disk, entries) =
      if (traced) {
        val infos = spark.sparkContext.getRDDStorageInfo
        (infos.map(_.memSize).sum / 1e6, infos.map(_.diskSize).sum / 1e6, infos.length)
      } else (0.0, 0.0, 0)
    Pass(name, round, label, traced, secs("build"), secs("plan"), secs("action"),
      print, error, phases.toSeq, nodes, mem, disk, entries)
  }

  /** Clear every cache, then the cold pass and the warm pass, which
    * reuses the operator caches its cold pass filled. */
  def coldWarm(name: String, fn: Query, round: Int, traced: Boolean): Seq[Pass] = {
    spark.catalog.clearCache()
    Seq(pass(name, fn, round, "cold", traced), pass(name, fn, round, "warm", traced))
  }
}

/** Peak heap occupancy right after a GC, from the JVM's GC notifications:
  * the live set (caches, plans, retained state) rather than garbage. */
final class HeapMonitor {
  @volatile var active = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak.toDouble / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
