package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Reporter}
import org.scalatest.events.{Event, TestSucceeded}

/** A suite that uses [[SparkSessionSpec.extSpark]] must give later
  * suites the plain shared session back: they build theirs with
  * `getOrCreate`, which returns whatever default session is left. */
class SessionIsolationSpec extends SparkSessionSpec {

  test("after an extSpark suite ends, getOrCreate is the plain session") {
    val plain = spark
    class UsesExtensions extends SparkSessionSpec {
      test("extSpark is the default session while the suite runs") {
        extSpark.conf.set("spark.sql.catalog.lakecat",
          "graft.sources.SnapshotCatalog")
        assert(SparkSession.builder().getOrCreate() eq extSpark)
      }
    }
    val events = new ConcurrentLinkedQueue[Event]()
    val reporter = new Reporter { def apply(e: Event): Unit = events.add(e) }
    assert(new UsesExtensions().run(None, Args(reporter)).succeeds())
    assert(events.asScala.count(_.isInstanceOf[TestSucceeded]) == 1)

    val after = SparkSession.builder().getOrCreate()
    assert(after eq plain)
    assert(after.conf.getOption("spark.sql.catalog.lakecat").isEmpty)
    assert(SparkSession.getActiveSession.forall(_ eq plain))
  }
}
