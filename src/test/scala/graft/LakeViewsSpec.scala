package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** `Lake.registerViews` keeps a temp view that is still current: the
  * session still holds the relation it registered and the table's files
  * are unchanged. Anything else registers afresh. */
class LakeViewsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** A lake of one-row tables under a fresh directory. */
  private def freshLake(name: String): String = {
    val dir = s"target/lake_views_spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Lake.tableNames.foreach(n => Seq(n).toDF("name").write.parquet(s"$dir/$n.parquet"))
    dir
  }

  private def views(s: SparkSession): Map[String, TemporaryViewRelation] =
    Lake.tableNames.map(n => n -> s.sessionState.catalog.getRawTempView(n).get).toMap

  /** SQL executions (commands included) started while `f` runs. */
  private def executionsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    GraftTestSparkBridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      f
      GraftTestSparkBridge.waitListenerBusEmpty(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second call keeps every view and runs no command") {
    val s = spark.newSession()
    val dir = freshLake("keep")
    Lake(s, dir).registerViews()
    val first = views(s)
    assert(executionsDuring(Lake(s, dir).registerViews()) == 0)
    val second = views(s)
    Lake.tableNames.foreach(n => assert(second(n) eq first(n), s"$n was re-registered"))
    assert(s.sql("SELECT name FROM orders").as[String].collect().toSeq == Seq("orders"))
  }

  test("a rewritten table or a replaced view is registered afresh") {
    val s = spark.newSession()
    val dir = freshLake("rewrite")
    Lake(s, dir).registerViews()
    val first = views(s)
    Seq("orders v2").toDF("name").write.mode("overwrite").parquet(s"$dir/orders.parquet")
    s.range(3).createOrReplaceTempView("customer")
    Lake(s, dir).registerViews()
    val second = views(s)
    Lake.tableNames.filterNot(Set("orders", "customer")).foreach(n =>
      assert(second(n) eq first(n), s"$n was re-registered"))
    assert(!(second("orders") eq first("orders")))
    assert(s.sql("SELECT name FROM orders").as[String].collect().toSeq == Seq("orders v2"))
    assert(s.sql("SELECT name FROM customer").as[String].collect().toSeq == Seq("customer"),
      "the caller's view under a lake name is replaced by the lake table")
  }

  test("a second session gets its own registrations") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val dir = freshLake("sessions")
    Lake(a, dir).registerViews()
    assert(Lake.tableNames.forall(n => b.sessionState.catalog.getRawTempView(n).isEmpty))
    Lake(b, dir).registerViews()
    val (va, vb) = (views(a), views(b))
    Lake.tableNames.foreach(n => assert(!(va(n) eq vb(n)), s"$n is shared"))
    assert(b.sql("SELECT name FROM region").as[String].collect().toSeq == Seq("region"))
  }
}
