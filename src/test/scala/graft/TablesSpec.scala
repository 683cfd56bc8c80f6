package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq(
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings, "events" -> Tables.events)

  test("every table's declared schema is exactly the one Spark infers, on every scale factor") {
    assert(loaders.map(_._1).toSet == Tables.schemas.keySet)
    val sf01 = s"${new java.io.File(TestSpark.sf001).getParent}/sf0.1"
    val dirs = Seq(TestSpark.sf0001, TestSpark.sf001, sf01,
      "perfbench/data/sf0.001", "perfbench/data/sf0.01")
    for (dir <- dirs; (name, declared) <- Tables.schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(declared == inferred, s"$dir/$name: declared ${declared.toDDL}, inferred ${inferred.toDDL}")
    }
  }

  test("building each loader's frame submits no Spark job") {
    // jobs submitted under this thread's probe property; the marker job,
    // delivered after any job of the loads, ends the wait
    val probe = "graft.test.tablesProbe"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for ((name, load) <- loaders) {
        sc.setLocalProperty(probe, name)
        assert(load(spark, TestSpark.sf001).schema.nonEmpty)
      }
      sc.setLocalProperty(probe, "marker")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains("marker"), "the listener never saw the marker job")
      val loads = seen.toArray.toSeq.filter(_ != "marker")
      assert(loads.isEmpty, s"loads that submitted a Spark job: ${loads.mkString(", ")}")
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }
}
