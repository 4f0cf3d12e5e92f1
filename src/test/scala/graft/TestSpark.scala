package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

import graft.ext.Iterate

/** One shared local session for the whole suite (getOrCreate — building
  * a SparkSession per spec would dominate test wall-clock). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("2")
  val sfDir = "/root/testdata/sf0.001"

  private val groups = new java.util.concurrent.atomic.AtomicInteger

  /** Run `body` and return its result with the number of Spark jobs it
    * started. Suites share the session, so only jobs tagged with this
    * call's own job group count. The listener bus is async but delivers
    * in order: a one-task marker job run after `body`, in a second group,
    * reaches the listener only after every job `body` started. */
  def countJobs[T](body: => T): (T, Int) = {
    val group = s"countJobs-${groups.incrementAndGet()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id"))
        if (g.contains(group)) jobs.incrementAndGet()
        else if (g.contains(marker)) delivered.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job-count pin")
      val out = body
      sc.setJobGroup(marker, "job-count marker")
      sc.parallelize(Seq(0), 1).count()
      assert(delivered.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Run `q` in the default regime (the one-task local solve on
    * test-sized inputs) and again with every regime fork forced
    * distributed, each in its own [[CacheScope]] so neither run reuses
    * the other's pins. `q` must materialize its result. The forced run
    * must start more jobs than the local one: the distributed loops run
    * jobs per round, so a seam that stopped switching fails here instead
    * of comparing the local regime with itself. */
  def bothRegimes[T](q: => T): (T, T) = {
    val (local, localJobs) = countJobs(CacheScope.scoped(spark)(q))
    val (dist, distJobs) =
      countJobs(CacheScope.scoped(spark)(Iterate.distributedOnly(q)))
    assert(distJobs > localJobs,
      s"distributed run started $distJobs jobs, local $localJobs")
    (local, dist)
  }
}
