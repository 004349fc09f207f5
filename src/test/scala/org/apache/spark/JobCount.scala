package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Spark jobs a block of code runs. Lives in the
  * `org.apache.spark` package only to reach `listenerBus.waitUntilEmpty`,
  * so every job event of the finished block has been delivered before the
  * count is read.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** The tasks each Spark job of a block of code ran, in job order, counted
  * from the task-end events of the job's stages.
  */
object JobTasks {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Int]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val tasks = new java.util.concurrent.ConcurrentSkipListMap[Int, AtomicInteger]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        tasks.put(e.jobId, new AtomicInteger)
        e.stageIds.foreach(jobOfStage.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.get(jobOfStage.get(e.stageId)).incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, tasks.values.asScala.map(_.get).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

/** The executed plans of the SQL actions a block of code ran in `spark`'s
  * session, in completion order. The listener bus is drained before and
  * after the block, so every plan of the finished block is captured and
  * none from before it.
  */
object ExecutedPlans {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      bus.waitUntilEmpty()
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
