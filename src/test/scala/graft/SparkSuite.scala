package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session across all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
  def table(name: String) = Tables.load(spark, sf, name)

  /** `body`'s result and the SQL execution id of every Spark job it
    * submitted (None for a job run outside SQL), read after flushing
    * the ordered listener bus so the list is exact. */
  /** Runs `commit(1)` .. `commit(n)` on `n` threads released at once
    * (the racing-writers shape of the commit specs); each call's index
    * with its outcome. */
  def race[T](n: Int = 4)(commit: Long => T): Seq[(Long, scala.util.Try[T])] = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = (1L to n.toLong).map(i => pool.submit(() => {
        start.await()
        scala.util.Try(commit(i))
      }))
      start.countDown()
      (1L to n.toLong).zip(fs.map(_.get()))
    } finally pool.shutdown()
  }

  def jobsDuring[T](body: => T): (T, Seq[Option[String]]) = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        ids.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.grafttest.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (out, ids.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
