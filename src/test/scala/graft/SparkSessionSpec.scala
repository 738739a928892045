package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), small shuffle partition
  * count, UTC, AQE on — mirroring `graft.Session`'s settings, minus
  * GraftExtensions: specs compare results with and without graft's
  * rules, so the shared session stays extension-free and [[extSpark]]
  * carries them. */
trait SparkSessionSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  private var restoreSessions: () => Unit = () => ()

  /** A GraftExtensions session over the shared context, as every main
    * builds one. Extensions apply only at session build, so the builder
    * runs with no default or active session; while the suite runs this
    * session is both (the snapshot catalog resolves through
    * `SparkSession.active`), and the previous ones come back when the
    * suite ends — a later suite's `spark` must never get this one. */
  lazy val extSpark: SparkSession = {
    spark.sparkContext
    val (prevDefault, prevActive) =
      (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    restoreSessions = () => {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
  }

  override protected def afterAll(): Unit =
    try restoreSessions() finally super.afterAll()

  /** What `pick` makes of the listener events of the jobs `body` starts.
    * A marker job started from here after `body` drains the listener
    * bus: once its start is seen, every earlier event has been. */
  def sparkEvents[A](pick: PartialFunction[SparkListenerEvent, A])
                    (body: => Unit): Seq[A] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[A]()
    @volatile var drained = false
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart
            if j.stageInfos.exists(_.name.contains("SparkSessionSpec.scala")) =>
          drained = true
        case _ => pick.lift(e).foreach(seen.add)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.parallelize(Seq(1), 1).map(identity).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
