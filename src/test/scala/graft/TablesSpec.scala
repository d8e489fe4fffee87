package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, TimestampNTZType}

/** [[Tables.load]] resolves each schema from one footer on the driver:
  * the schema equals Spark's own inference (field order, nullability and
  * metadata included), a rewritten path reads its new schema, and
  * registering every table runs no Spark job. */
class TablesSpec extends SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("every fixture table loads with Spark's inferred schema; events.ts adapts to TIMESTAMP_NTZ") {
    for (t <- names)
      assert(Tables.load(spark, sf, t).schema == inferred(s"$sf/$t.parquet"), t)
    val raw = inferred(s"$sf/events.parquet")
    val events = Tables.events(spark, sf).schema
    assert(events.fieldNames.toSeq == raw.fieldNames.toSeq)
    assert(events.filterNot(_.name == "ts") == raw.filterNot(_.name == "ts"))
    assert(events("ts").dataType == TimestampNTZType)
  }

  test("a Spark-written directory table (_SUCCESS, several part files) loads with its row-metadata schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val meta = new MetadataBuilder()
      .putString("comment", "kept only in Spark's row metadata").build()
    spark.range(0, 40, 1, 4).selectExpr(
        "id",
        "cast(id AS SMALLINT) AS small",
        "cast(id * 1.25 AS DECIMAL(12, 2)) AS amount",
        "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS at",
        "array(id, id + 1) AS pair",
        "named_struct('k', id, 'v', cast(id AS STRING)) AS kv")
      .withColumn("id", col("id").as("id", meta))
      .write.parquet(s"$dir/t.parquet")
    val files = new java.io.File(s"$dir/t.parquet").list().toSeq
    assert(files.contains("_SUCCESS") && files.count(_.startsWith("part-")) > 1,
      files.mkString(", "))
    val schema = Tables.load(spark, dir, "t").schema
    assert(schema == inferred(s"$dir/t.parquet"))
    assert(schema("at").dataType == TimestampNTZType)
    assert(schema("id").metadata == meta)
  }

  test("a path rewritten in the same session with a new schema loads the new schema") {
    val dir = Files.createTempDirectory("graft-tables-rw").toString
    spark.range(3).selectExpr("id", "cast(id AS STRING) AS s")
      .write.parquet(s"$dir/t.parquet")
    val before = Tables.load(spark, dir, "t").schema
    spark.range(3).selectExpr("cast(id AS DOUBLE) AS x", "id > 1 AS flag", "id")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t").schema
    assert(after == inferred(s"$dir/t.parquet"))
    assert(after.fieldNames.toSeq == Seq("x", "flag", "id") && after != before)
  }

  test("a missing path or a directory without data files raises Spark's own error") {
    val dir = Files.createTempDirectory("graft-tables-err").toString
    Files.createDirectory(Paths.get(s"$dir/empty.parquet"))
    Files.createFile(Paths.get(s"$dir/empty.parquet/_SUCCESS"))
    for (t <- Seq("missing", "empty")) {
      val theirs = intercept[AnalysisException](inferred(s"$dir/$t.parquet"))
      val ours = intercept[AnalysisException](Tables.load(spark, dir, t))
      assert(ours.getCondition == theirs.getCondition, t)
    }
  }

  test("registering every table and view schedules no Spark job") {
    val (_, ledger) = graft.scale.JobLedger.measure(spark)(SqlViews.register(spark, sf))
    assert(ledger.jobs.isEmpty, s"registration scheduled ${ledger.jobs.size} jobs")
  }
}
