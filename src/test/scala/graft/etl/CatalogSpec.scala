package graft.etl

import graft.SparkSpec
import java.nio.file.Files

class CatalogSpec extends SparkSpec {

  test("DDL creates pipeline tables idempotently with upsert metadata") {
    val base = Files.createTempDirectory("catalog").toString
    Catalog.ensurePipelineTables(spark, base)
    Catalog.ensurePipelineTables(spark, base) // IF NOT EXISTS — no error

    // temp views from other specs sharing the session also show up in
    // SHOW TABLES — assert over the database's PERSISTED tables only
    val tables = spark.sql("SHOW TABLES IN pipeline_layer")
      .filter("NOT isTemporary")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(tables == Set("target_table", "pipeline_log"))

    val (keys, pc) = Catalog.upsertConfig(spark, "pipeline_layer.pipeline_log")
    assert(keys == Seq("pipeline_name", "created_at"), "composite key split")
    assert(pc == "created_at")

    val (tKeys, tPc) = Catalog.upsertConfig(spark, "pipeline_layer.target_table")
    assert(tKeys == Seq("record_id") && tPc == "load_timestamp")

    // SQL write + read through the catalog
    spark.sql(
      """INSERT INTO pipeline_layer.pipeline_log VALUES
        |('p1', NULL, 1000, 'SUCCESS', 10, 1.5, NULL, 1001),
        |('p1', 1000, 2000, 'FAILED', 0, 0.1, 'boom', 2001)""".stripMargin)
    val n = spark.table("pipeline_layer.pipeline_log").count()
    assert(n == 2)
    val wm = spark.sql(
      """SELECT max(current_run_timestamp) FROM pipeline_layer.pipeline_log
        |WHERE pipeline_name = 'p1' AND status = 'SUCCESS'""".stripMargin)
      .head().getLong(0)
    assert(wm == 1000L)
    spark.sql("DROP DATABASE pipeline_layer CASCADE")
  }

  test("environment profiles select the reference's dev/staging/prod presets") {
    for (((env, prefix), parts) <- Seq(
        ("development", "dev_") -> "10",
        ("staging", "staging_") -> "50",
        ("production", "prod_") -> "200")) {
      val p = PipelineConfig.forEnvironment(env)
      assert(p.environment == env)
      assert(p.sparkConfigs("spark.sql.shuffle.partitions") == parts)
      assert(p.sparkConfigs("spark.default.parallelism") == parts)
      assert(p.databaseName.startsWith(prefix) && p.pipelineName.startsWith(prefix))
      assert(p.pipelineName.contains("data_processing_pipeline"))
    }
    // env-var selection (injectable lookup), with dev as the default
    assert(PipelineConfig.fromEnv(_ => Some("staging")).environment == "staging")
    assert(PipelineConfig.fromEnv(_ => None).environment == "development")
    intercept[IllegalArgumentException](PipelineConfig.forEnvironment("qa"))
    // profile configs land on a session builder
    val b = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false")
    PipelineConfig.forEnvironment("staging").configure(b)
    // the shared test session already exists; builder configs apply to
    // the derived conf without starting a second context
    val derived = PipelineConfig.forEnvironment("staging")
      .pipelineConfig("/s", "/t", "/l")
    assert(derived.name == "staging_data_processing_pipeline")
  }

  test("hive-sync analog: pre-registered view reads the new snapshot after upsert") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sync").toString + "/tbl"
    val v1 = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "payload", "ver")
    HudiLike.upsertInto(spark, dir, v1, keys = Seq("id"), precombine = "ver")
    Catalog.registerView(spark, "sync_view", dir)
    assert(spark.table("sync_view").count() == 2)
    // second commit swaps the snapshot symlink; the OLD snapshot dir is
    // deleted, so a stale pinned file listing would error or miss rows
    val v2 = Seq((2L, "b2", 20L), (3L, "c", 20L)).toDF("id", "payload", "ver")
    HudiLike.upsertInto(spark, dir, v2, keys = Seq("id"), precombine = "ver")
    val rows = spark.table("sync_view").orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "b2", 20L), (3L, "c", 20L)))
    Catalog.unregisterView("sync_view")
    spark.catalog.dropTempView("sync_view")
  }

  test("hive-sync analog: timeline view tracks the latest commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("synctl").toString + "/tbl"
    Timeline.commit(Seq((1L, "x")).toDF("id", "v"), root)
    Catalog.registerTimelineView(spark, "sync_tl_view", root)
    assert(spark.table("sync_tl_view").count() == 1)
    Timeline.commit(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), root)
    assert(spark.table("sync_tl_view").count() == 2)
    Catalog.unregisterView("sync_tl_view")
    spark.catalog.dropTempView("sync_tl_view")
  }

  test("registration escapes quoted/backslashed validator expressions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("catesc").toString + "/t"
    BucketTable.create(
      Seq((1L, 1L, "ok")).toDF("k", "pc", "status"), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)
    // a validator carrying a single quote AND a regex backslash must
    // survive the INITIAL registration verbatim — the same round-trip
    // replaceEntry already guarantees for later ALTERs
    Catalog.registerLayoutTable(spark, "cat_escaped", "bucket", dir,
      validators = Seq(
        "bad_status" -> "status != 'ok'",
        "digit_status" -> "status rlike '^\\\\d+$'"))
    val rules = Catalog.validatorsOf(spark, "cat_escaped")
    assert(rules.map(_.name) == Seq("bad_status", "digit_status"))
    // the stored expressions evaluate with their original semantics
    val probe = Seq(("ok", false, false), ("nope", true, false),
      ("42", true, true)).toDF("status", "expect_bad", "expect_digit")
    val got = rules.map { r =>
      probe.filter(r.violation).select($"status").as[String].collect().toSet
    }
    assert(got == Seq(Set("nope", "42"), Set("42")))
  }

  test("table properties read from the session catalog equal SHOW TBLPROPERTIES") {
    import spark.implicits._
    def shown(t: String): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    def same(t: String): Unit =
      assert(Catalog.tblProps(spark, t) == shown(t), t)
    // a layout-bound table, then its drop+create entry rewrite
    val p = Files.createTempDirectory("propsparity").toString + "/t"
    BucketTable.create(Seq((1L, 1L, 1.0)).toDF("k", "pc", "v"), p,
      Seq("k"), "pc", numBuckets = 2)
    Catalog.registerLayoutTable(spark, "props_layout", "bucket", p,
      validators = Seq("neg" -> "pc < 0 AND 'a''b' != '\\d'"))
    same("props_layout")
    assert(Catalog.layoutOf(spark, "props_layout").contains(("bucket", p)))
    SqlDdl.exec(spark, "ALTER TABLE props_layout RENAME COLUMN v TO amount")
    same("props_layout")
    assert(Catalog.renamesOf(spark, "props_layout") == Map("amount" -> "v"))
    // a plain parquet table, then ALTER ... SET TBLPROPERTIES (a key
    // matching the redaction pattern is served redacted, as SHOW does)
    val loc = Files.createTempDirectory("propsplain").toString
    spark.sql(s"""CREATE TABLE props_plain (a INT) USING PARQUET
                 |LOCATION '$loc' TBLPROPERTIES ('user.note' = 'it''s')""".stripMargin)
    same("props_plain")
    spark.sql("""ALTER TABLE props_plain SET TBLPROPERTIES (
                |'graft.table.writeConcurrency' = 'occ', 'source.url' = 'secret')""".stripMargin)
    same("props_plain")
    assert(Catalog.writeConcurrencyOf(spark, "props_plain") == "occ")
    assert(Catalog.layoutOf(spark, "props_plain").isEmpty)
    // qualified names
    spark.sql("CREATE DATABASE IF NOT EXISTS props_db")
    val loc2 = Files.createTempDirectory("propsdb").toString
    spark.sql(s"""CREATE TABLE IF NOT EXISTS props_db.t (a INT) USING PARQUET
                 |LOCATION '$loc2' TBLPROPERTIES ('k' = 'v')""".stripMargin)
    Seq("props_db.t", "`props_db`.`t`", "spark_catalog.props_db.t").foreach(same)
    // a temp view lists nothing; a missing table fails both ways and
    // the schema-mapping lookups fall back to empty
    spark.range(1).createOrReplaceTempView("props_view")
    same("props_view")
    assert(Catalog.tblProps(spark, "props_view").isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](shown("props_missing"))
    intercept[org.apache.spark.sql.AnalysisException](
      Catalog.tblProps(spark, "props_missing"))
    assert(Catalog.schemaMapping(spark, "props_missing") ==
      ((Map.empty, Set.empty, Map.empty)))
    assert(Catalog.layoutOf(spark, "props_view").isEmpty)
  }
}
