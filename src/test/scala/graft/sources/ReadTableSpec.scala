package graft.sources

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** `Warehouse.readTable` reads the same table as `spark.read.parquet` —
  * same columns, types, order and partition columns, same rows — and
  * submits no Spark job to learn the schema when the files carry Spark's
  * schema in their footers. */
class ReadTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_rt").toString

  private def sameTable(dir: String): Unit = {
    val (got, want) = (Warehouse.readTable(spark, dir), spark.read.parquet(dir))
    assert(got.schema == want.schema)
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
  }

  /** Spark jobs submitted while `body` builds (but does not run) a frame. */
  private def jobsToPlan(body: => DataFrame): Int = {
    val marker = s"readtable-${System.nanoTime()}"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("graft.test.probe")))
          .foreach(seen.put)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.probe", marker)
      body.schema
      // the bus delivers in order: once a job after `body` is seen, every
      // job `body` submitted has been seen
      sc.setLocalProperty("graft.test.probe", "end")
      sc.parallelize(Seq(1)).count()
      var n = 0
      var next = seen.poll(30, TimeUnit.SECONDS)
      while (next != null && next != "end") { n += 1; next = seen.poll(30, TimeUnit.SECONDS) }
      assert(next == "end", "the listener bus never delivered the closing job")
      n
    } finally {
      sc.setLocalProperty("graft.test.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  test("partitioned table: same schema, partition columns last, no job") {
    val dir = s"${tmp()}/t"
    Seq((1L, "a", 2.5, "2024-25", "Regular Season"), (2L, null, 1.0, "2023-24", "Playoffs"))
      .toDF("id", "name", "x", "SEASON", "SEASON_TYPE")
      .write.partitionBy(Warehouse.PartitionCols: _*).parquet(dir)
    val byYear = s"${tmp()}/u"
    Seq((3L, "c", 0.5, 2024)).toDF("id", "name", "x", "YEAR")
      .write.partitionBy("YEAR").parquet(byYear)
    sameTable(dir)
    sameTable(byYear)
    assert(Warehouse.readTable(spark, dir).columns.toSeq.takeRight(2) == Warehouse.PartitionCols)
    assert(jobsToPlan(Warehouse.readTable(spark, dir)) == 0)
    assert(jobsToPlan(spark.read.parquet(dir)) > 0, "the counter must see inference jobs")
  }

  test("unpartitioned, nested and typed columns, and an empty DataFrame's table") {
    val dir = s"${tmp()}/t"
    Seq((1, Seq(1.0, 2.0), Map("k" -> 1L), java.sql.Date.valueOf("2024-11-01")))
      .toDF("i", "arr", "m", "d").write.parquet(dir)
    sameTable(dir)
    assert(jobsToPlan(Warehouse.readTable(spark, dir)) == 0)
    val empty = s"${tmp()}/e"
    Seq.empty[(String, Long)].toDF("GAME_ID", "n").write.parquet(empty)
    sameTable(empty)
    assert(jobsToPlan(Warehouse.readTable(spark, empty)) == 0)
  }

  test("a parquet file without Spark's schema falls back to inference") {
    val dir = s"${tmp()}/t"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try {
      writer.write(rows.newGroup().append("id", 1L).append("name", "a"))
      writer.write(rows.newGroup().append("id", 2L))
    } finally writer.close()
    sameTable(dir)
  }

  test("a missing directory still throws, and an empty partitioned write still cannot be read") {
    val root = tmp()
    intercept[org.apache.spark.sql.AnalysisException](Warehouse.readTable(spark, s"$root/none"))
    Seq.empty[(Long, String)].toDF("id", "SEASON")
      .write.partitionBy("SEASON").parquet(s"$root/p")
    intercept[org.apache.spark.sql.AnalysisException](Warehouse.readTable(spark, s"$root/p"))
  }
}
