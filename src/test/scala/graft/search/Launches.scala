package graft.search

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the SQL executions and Spark jobs a block launches. The
  * block runs under a job group of its own, a thread-local property,
  * so launches of suites running on other threads are never counted. */
object Launches {

  private object Listener extends SparkListener {
    private val execs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    private val jobs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => jobs(g) += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        s.jobGroupId.foreach(g => execs(g) += 1)
      }
      case _ =>
    }
    def counts(group: String): (Int, Int) = synchronized((execs(group), jobs(group)))
  }

  private val groups = new AtomicInteger(0)
  @volatile private var registered = false

  /** Runs `body` under a fresh job group and returns its value and the
    * (SQL executions, jobs) it launched. A fence job after the block
    * is awaited on the listener: events arrive in posting order, so
    * once the fence shows, every launch of the block is counted. */
  def apply[T](spark: SparkSession)(body: => T): (T, (Int, Int)) = {
    val sc = spark.sparkContext
    synchronized {
      if (!registered) { sc.addSparkListener(Listener); registered = true }
    }
    val group = s"launches-${groups.incrementAndGet()}"
    sc.setJobGroup(group, "counted block", interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-fence", "fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (Listener.counts(s"$group-fence")._2 == 0 && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(Listener.counts(s"$group-fence")._2 == 1, "listener never saw the fence job")
    (out, Listener.counts(group))
  }
}
