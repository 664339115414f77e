package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code ran on Spark: the number of jobs it
  * submitted (tagged through a thread-local job property, so jobs of other
  * threads do not count) and the executed plan of every Dataset action it
  * ran. Listener events arrive asynchronously, on one queue in the order
  * they were posted; a marker job submitted after the block is delivered
  * after every event the block caused, so its arrival closes the record. */
object SparkActions extends AdaptiveSparkPlanHelper {
  final case class Record[T](result: T, jobs: Int, plans: Seq[SparkPlan]) {
    /** The plans that read anything but driver-local rows (collecting a
      * local result is an action too, but it runs no job). */
    def actions: Seq[SparkPlan] =
      plans.filterNot(p => nodes(p).forall(_.isInstanceOf[LocalTableScanExec]))
  }

  private val Key = "graft.test.actions"

  def record[T](spark: SparkSession)(body: => T): Record[T] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val closed = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(Key)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == tag + ":end") closed.countDown()
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setLocalProperty(Key, tag)
      val result = body
      sc.setLocalProperty(Key, tag + ":end")
      sc.parallelize(Seq(1), 1).count()
      assert(closed.await(60, TimeUnit.SECONDS), "listener events did not drain")
      Record(result, jobs.get, plans.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Key, null)
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** Every node of an executed plan, adaptive query stages included. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }
}
