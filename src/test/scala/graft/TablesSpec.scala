package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}

/** `Tables` infers a table's schema once per signature: a repeat read
  * launches no job, and a rewritten table or a changed parquet reader
  * conf is inferred afresh.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def withTempDir(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory("graft_tables_spec")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try body(root) finally rm(root.toFile)
  }

  test("a second read of an unchanged table launches no job") {
    val first = Tables(spark, dir, "orders")
    val (second, jobs) = JobCounter(spark.sparkContext)(Tables(spark, dir, "orders"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.schema === spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(second.count() === first.count())
  }

  test("a table rewritten in place with a new schema is inferred afresh") {
    withTempDir { root =>
      val path = root.resolve("t.parquet").toString
      spark.range(3).toDF("x").write.parquet(path)
      assert(Tables(spark, root.toString, "t").schema.fieldNames.toSeq === Seq("x"))
      spark.range(4).selectExpr("id AS y", "CAST(id AS STRING) AS s")
        .write.mode("overwrite").parquet(path)
      val df = Tables(spark, root.toString, "t")
      assert(df.schema.fieldNames.toSeq === Seq("y", "s"))
      assert(df.count() === 4)
    }
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers the binary column") {
    withTempDir { root =>
      // written without Spark's schema metadata, which would pin the type
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 id; required binary b; }")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(root.resolve("raw.parquet").toString))
        .withType(schema).withConf(new Configuration).build()
      try {
        val groups = new SimpleGroupFactory(schema)
        (0 until 3).foreach(i => w.write(groups.newGroup().append("id", i.toLong).append("b", s"v$i")))
      } finally w.close()
      def bType = Tables(spark, root.toString, "raw").schema("b").dataType
      assert(bType === BinaryType)
      spark.conf.set("spark.sql.parquet.binaryAsString", "true")
      try {
        assert(bType === StringType)
        assert(Tables(spark, root.toString, "raw").orderBy("id")
          .collect().map(_.getString(1)).toSeq === Seq("v0", "v1", "v2"))
      } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
      assert(bType === BinaryType)
    }
  }

  test("events comes back with a session-zoned TimestampType ts") {
    Tables(spark, dir, "events")
    val (events, jobs) = JobCounter(spark.sparkContext)(Tables(spark, dir, "events"))
    assert(jobs === 0)
    assert(events.schema("ts").dataType === TimestampType)
    assert(Tables.eventsStream(spark, dir).schema("ts").dataType === TimestampType)
  }
}
