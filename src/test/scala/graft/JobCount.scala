package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** The Spark jobs a block launches. The block runs under its own job
  * group and a listener records the jobs that carry it, each with its
  * call site: for a job of a SQL action, the action and the first
  * `graft` frame outside `graft.Pin` that ran it (e.g. "count at
  * X.scala:12" for every stage job AQE submits for that count), else
  * the result stage's name. Listener events arrive in order, so once a
  * sentinel job submitted after the block has ended, every job of the
  * block has been seen. */
object JobCount {

  def apply[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val sites = new ConcurrentLinkedQueue[String]()
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val done = new CountDownLatch(1)
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val frames = s.details.split("\n").map(_.trim)
          val action = frames.head.takeWhile(_ != '(').split('.').last
          frames.find(f => f.startsWith("graft.") && !f.startsWith("graft.Pin"))
            .foreach(f => actions.put(s.executionId.toString,
              s"$action at ${f.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')}"))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (g.contains(group))
          sites.add(Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(x => Option(actions.get(x)))
            .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("?"))
        else if (g.contains(sentinel)) sentinelJob.set(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel, interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, TimeUnit.SECONDS), "sentinel job end not delivered")
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
