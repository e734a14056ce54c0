package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for operator specs. It installs
  * [[GraftSession]]'s optimizer rule, as every graft main's session
  * does.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(GraftSession.injectRules)
    .getOrCreate()

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }

  /** The jobs `body` starts on this thread; each says whether it ran in a
    * SQL execution. A marker job follows the body: the listener bus
    * delivers in order, so once the marker is seen every job the body
    * started has been seen too.
    */
  def jobsOf(body: => Unit): Seq[Boolean] = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => seen.add(
          (p.getProperty("spark.jobGroup.id"),
            p.getProperty("spark.sql.execution.id") != null)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._1 == s"$group-marker") &&
        System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.asScala.exists(_._1 == s"$group-marker"), "marker job not seen")
    } finally sc.removeSparkListener(listener)
    seen.asScala.filter(_._1 == group).map(_._2).toSeq
  }

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
