package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** Fuzz seeds are fixed for CI determinism; exploratory runs can sweep
  * other seeds with GRAFT_FUZZ_SEED=<n> sbt test. */
object FuzzSeed {
  def apply(default: Long): Long =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(default)
}

/** Shared local SparkSession for specs (one per suite via lazy val). */
trait SparkSpec extends NoCachedLeftovers {
  def fuzzSeed(default: Long): Long = FuzzSeed(default)
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Spark jobs started while `body` ran: a listener counts job starts,
    * and the listener bus is drained before and after, so jobs of earlier
    * actions are not counted and every job of `body` is. */
  def jobsDuring(spark: SparkSession)(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.specs.Drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.specs.Drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Rows the rowwise rungs fed to the per-row interpreter while `body`
    * ran: the growth of the session's `graft.rowwise.evaluatedRows`. */
  def interpreterRowsDuring(spark: SparkSession)(body: => Any): Long = {
    val evaluated = Graft.rowwiseCounters(spark).evaluated
    val before = evaluated.value
    body
    evaluated.value - before
  }
}

/** No test may leave a CacheManager entry behind. Nothing in the program
  * persists through the CacheManager (intermediates are query-scoped,
  * graft.core.Intermediate), so an entry after a test is a leak: that
  * test fails, and the entry is dropped so the suites after it, which
  * share the session, are judged on their own. Every suite that starts
  * Spark mixes this in (SparkSpec does). */
trait NoCachedLeftovers extends AnyFunSuite {
  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    SparkSession.getDefaultSession.map(_.sharedState.cacheManager)
      .filterNot(_.isEmpty) match {
      case Some(cm) =>
        cm.clearCache()
        outcome match {
          case Succeeded => Failed(s"${test.name}: left cached blocks behind")
          case o         => o
        }
      case None => outcome
    }
  }
}
