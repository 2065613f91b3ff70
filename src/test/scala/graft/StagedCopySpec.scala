package graft

import graft.config.TableSpec
import graft.sink.{CopyStage, RedshiftSql, ReplayCopyExecutor, WarehouseMergeSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.nio.file.Files
import java.util.Properties

/** S5 production form: the staged-COPY bulk-load path
  * (ref cdc_util/redshift_sink.py:345-380,498-560). The SQL text the
  * warehouse would receive is pinned byte-for-byte; the pipeline itself
  * (distributed staging write → manifest → COPY → merge transaction →
  * retry) runs end-to-end against Derby through the replay executor. */
class StagedCopySpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def batch(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "op_aws")
  }

  private val spec = TableSpec(db = "d", table = "t_copy", primaryKey = Seq("id"))

  private def mkSink(db: String, tempDir: String, tempformat: String = "CSV GZIP",
                     keepStaged: Boolean = false): WarehouseMergeSink = {
    val url = s"jdbc:derby:$db;create=true"
    new WarehouseMergeSink(url, new Properties(),
      new ReplayCopyExecutor(spark, url, new Properties(), tempDir,
        RedshiftSql.CopyOptions(iamRole = "arn:aws:iam::0:role/r", region = "us-east-1",
          maxError = 0L, tempformat = tempformat),
        keepStaged = keepStaged),
      maxVarchar = 32672)
  }

  private def readTarget(db: String): Seq[(Long, String)] =
    spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
      .option("dbtable", "t_copy").load()
      .collect().map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name"))))
      .toSeq.sortBy(_._1)

  test("stage writes gzip csv parts plus a mandatory-entries manifest") {
    val dir = tmp("graft-copystage")
    val staged = CopyStage.stage(batch(Seq((1L, "a", "u"), (2L, "b", "u"))),
      dir, "CSV GZIP")
    assert(staged.files.nonEmpty)
    assert(staged.files.forall(f => f.endsWith(".csv.gz") && new java.io.File(f).isFile))
    val manifest = Files.readString(java.nio.file.Paths.get(staged.manifestPath))
    staged.files.foreach(f => assert(manifest.contains(s""""url": "$f"""")))
    assert(manifest.contains(""""mandatory": true"""))
    assert(CopyStage.manifestFiles(staged.manifestPath) == staged.files)
  }

  test("copy statement text carries the reference's extracopyoptions verbatim") {
    val opts = RedshiftSql.CopyOptions(iamRole = "arn:aws:iam::0:role/r",
      region = "us-east-1", maxError = 99L, tempformat = "CSV GZIP")
    val sql = RedshiftSql.copySql("t_stage_aws", "s3://b/m.json", opts)
    assert(sql == "COPY t_stage_aws FROM 's3://b/m.json' " +
      "IAM_ROLE 'arn:aws:iam::0:role/r' MANIFEST FORMAT AS CSV GZIP NULL AS '@NULL@' " +
      "TRUNCATECOLUMNS region 'us-east-1' maxerror 99 dateformat 'auto' timeformat 'auto'")
    assert(RedshiftSql.copySql("t", "u", opts.copy(tempformat = "PARQUET"))
      .contains("MANIFEST FORMAT AS PARQUET TRUNCATECOLUMNS"))
  }

  test("merge transaction text matches the reference template (create-as-select on first contact)") {
    // ref redshift_sink.py:331-341 — including the double space after
    // "create table" and the where 1=3 empty-clone idiom
    val existing = RedshiftSql.transactionSql("tgt", "tgt_stage_aws",
      Seq("id", "name"), Seq("id"), targetExists = true)
    assert(existing == "begin; " +
      "delete from tgt using tgt_stage_aws where tgt.\"id\" = tgt_stage_aws.\"id\"; " +
      "insert into tgt(\"id\",\"name\") select \"id\",\"name\" from tgt_stage_aws; " +
      "truncate table tgt_stage_aws; end;",
      existing)
    val first = RedshiftSql.transactionSql("tgt", "tgt_stage_aws",
      Seq("id", "name"), Seq("id"), targetExists = false)
    assert(first.startsWith("begin; create table  tgt sortkey (\"id\") " +
      "as select \"id\",\"name\" from tgt_stage_aws where 1=3;"), first)
  }

  test("mongo merge transaction pins the reference's asymmetric form: " +
    "drop-staging (not truncate), in-insert delete filter, doc_id join") {
    // ref mongo_redshift_sink.py:174-187 vs redshift_sink.py:317-341 —
    // the two sinks genuinely differ; both texts are pinned.
    val existing = RedshiftSql.mongoTransactionSql("tgt", "tgt_stage_aws",
      Seq("doc_id", "doc", "operation"), targetExists = true)
    assert(existing == "begin; " +
      "delete from tgt using tgt_stage_aws " +
      "where tgt_stage_aws.doc_id = tgt.doc_id; " +
      "insert into tgt(doc_id,doc,operation) " +
      "select doc_id,doc,operation from tgt_stage_aws " +
      "where operation!='delete'; " +
      "drop table tgt_stage_aws; end;",
      existing)
    val first = RedshiftSql.mongoTransactionSql("tgt", "tgt_stage_aws",
      Seq("doc_id", "doc", "operation"), targetExists = false)
    // first contact: create-as-select sortkeys ts_date (the reference's
    // fixed ingest-date sortkey), not the merge key
    assert(first.startsWith("begin; create table  tgt sortkey (ts_date) " +
      "as select doc_id,doc,operation from tgt_stage_aws where 1=3;"), first)
  }

  test("mongo-shaped spec DROPS the staging table per batch; " +
    "mysql-shaped spec truncates and keeps it") {
    def stagingExists(db: String): Boolean =
      try {
        spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
          .option("dbtable", "t_copy_stage_aws").load().collect(); true
      } catch { case _: Exception => false }
    // MySQL family (default spec): staging persists, empty.
    val db1 = tmp("graft-copy-derby-my") + "/db"
    val s1 = mkSink(db1, tmp("graft-copy-tmp-my"))
    s1.writeBatch(batch(Seq((1L, "a", "u"))), spec)
    assert(stagingExists(db1), "MySQL path must keep the truncated staging table")
    assert(s1.lastTransactionSql.exists(_.contains("truncate table")))
    // Mongo family: staging dropped after every batch, recreated by the
    // next batch's staged load — two batches prove the cycle.
    val db2 = tmp("graft-copy-derby-mg") + "/db"
    val s2 = mkSink(db2, tmp("graft-copy-tmp-mg"))
    // Mongo-shaped = no configured primary key (the pipeline merges on
    // the extracted doc_id; TableSpec.mergeKeys falls back to it), so
    // the staged rows carry a doc_id column.
    import spark.implicits._
    def mongoBatch(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "name", "op_aws")
    val mongoSpec = spec.copy(primaryKey = Nil)
    s2.writeBatch(mongoBatch(Seq((1L, "a", "u"), (2L, "b", "u"))), mongoSpec)
    assert(!stagingExists(db2), "Mongo path must drop the staging table")
    // The recorded post-action is executable against THIS pipeline's
    // staging (op_aws/'d' markers), in the reference's asymmetric
    // shape (in-insert delete filter + drop).
    assert(s2.lastTransactionSql.exists(t =>
      t.contains("drop table t_copy_stage_aws") &&
        t.contains("where op_aws!='d'")))
    s2.writeBatch(mongoBatch(Seq((2L, "B", "u"), (3L, "c", "u"))), mongoSpec)
    assert(!stagingExists(db2))
    val got = spark.read.format("jdbc")
      .option("url", s"jdbc:derby:$db2;create=true")
      .option("dbtable", "t_copy").load()
      .collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("name")))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("end-to-end: staged-COPY merge applies inserts, updates and deletes through Derby") {
    val db = tmp("graft-copy-derby") + "/db"
    val dir = tmp("graft-copy-tmp")
    val sink = mkSink(db, dir)
    sink.writeBatch(batch(Seq((1L, "a", "u"), (2L, "b", "u"), (3L, "c", "u"))), spec)
    assert(readTarget(db) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the pinned post-action for the first batch carries create-as-select
    assert(sink.lastTransactionSql.exists(_.contains("create table  t_copy sortkey")))
    sink.writeBatch(batch(Seq((2L, "B", "u"), (3L, "c", "d"), (4L, "d", "u"))), spec)
    assert(readTarget(db) == Seq((1L, "a"), (2L, "B"), (4L, "d")))
    assert(sink.lastTransactionSql.exists(t =>
      t.startsWith("begin; delete from t_copy using t_copy_stage_aws")))
    // tempdir is cleaned after every successful batch
    assert(Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).isEmpty)
  }

  test("skip_delete keeps the delete row as an upsert") {
    val db = tmp("graft-copy-skipdel") + "/db"
    val sink = mkSink(db, tmp("graft-copy-tmp2"))
    val sd = spec.copy(skipDelete = true)
    sink.writeBatch(batch(Seq((1L, "a", "u"))), sd)
    sink.writeBatch(batch(Seq((1L, "gone", "d"))), sd)
    assert(readTarget(db) == Seq((1L, "gone")))
  }

  test("poisoned staging table: first attempt fails, retry drops and succeeds") {
    val db = tmp("graft-copy-retry") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    // Pre-create a staging table whose shape cannot take the batch.
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("""CREATE TABLE t_copy_stage_aws ("wrong" INT)""") finally st.close()
    } finally conn.close()
    val sink = mkSink(db, tmp("graft-copy-tmp3"))
    sink.writeBatch(batch(Seq((1L, "a", "u"))), spec)
    assert(readTarget(db) == Seq((1L, "a")))
  }

  test("schema evolution: a new column ALTERs the target before the merge") {
    import spark.implicits._
    val db = tmp("graft-copy-evolve") + "/db"
    val sink = mkSink(db, tmp("graft-copy-tmp4"))
    sink.writeBatch(batch(Seq((1L, "a", "u"))), spec)
    val widened = Seq((2L, "b", 7L, "u")).toDF("id", "name", "extra", "op_aws")
    sink.writeBatch(widened, spec)
    val cols = sink.catalogColumns("t_copy").get.map(_.name)
    assert(cols.contains("extra"), cols.mkString(","))
  }

  test("PARQUET tempformat round-trips losslessly (timestamps and nulls)") {
    import spark.implicits._
    val db = tmp("graft-copy-parquet") + "/db"
    val sink = mkSink(db, tmp("graft-copy-tmp5"), tempformat = "PARQUET")
    val rows = Seq(
      (1L, Option("x"), Option(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")), "u"),
      (2L, None: Option[String], None: Option[java.sql.Timestamp], "u"))
      .toDF("id", "name", "seen_at", "op_aws")
    sink.writeBatch(rows, spec)
    val back = spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
      .option("dbtable", "t_copy").load().collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getTimestamp(2))))
      .sortBy(_._1).toSeq
    assert(back == Seq(
      (1L, Some("x"), Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"))),
      (2L, None, None)))
  }

  test("CSV tempformat round-trips quotes, newlines and the null sentinel") {
    import spark.implicits._
    val db = tmp("graft-copy-csv") + "/db"
    val sink = mkSink(db, tmp("graft-copy-tmp6"), tempformat = "CSV")
    val tricky = Seq(
      (1L, Option("""say "hi", ok"""), "u"),
      (2L, Option("line1\nline2"), "u"),
      (3L, None: Option[String], "u"))
      .toDF("id", "name", "op_aws")
    sink.writeBatch(tricky, spec)
    val back = spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
      .option("dbtable", "t_copy").load().collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(back == Seq((1L, Some("""say "hi", ok""")),
      (2L, Some("line1\nline2")), (3L, None)))
  }

  test("ignore_ddl: batch casts to the existing catalog, no ALTER ever runs") {
    import spark.implicits._
    val db = tmp("graft-copy-ignoreddl") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // user-managed target: id wider than the batch's int, name narrow
      try st.execute("""CREATE TABLE t_copy ("id" BIGINT, "name" VARCHAR(4))""")
      finally st.close()
    } finally conn.close()
    val sink = mkSink(db, tmp("graft-copy-tmp-ddl"))
    val sd = spec.copy(ignoreDdl = true)
    // int id + an extra column the catalog lacks: cast + project, not ALTER
    val b = Seq((1, "ab", 99L, "u"), (2, "cd", 100L, "u"))
      .toDF("id", "name", "extra", "op_aws")
    sink.writeBatch(b, sd)
    val cols = sink.catalogColumns("t_copy").get.map(_.name)
    assert(cols == Seq("id", "name"), s"ignore_ddl must not evolve the table: $cols")
    assert(readTarget(db) == Seq((1L, "ab"), (2L, "cd")))
  }

  test("sinkFactory routes a jdbc sink through the staged-COPY path when redshift_tmpdir is set") {
    val cfg = graft.config.JobConfig.fromProperties(
      s"""kafka_broker=k:9092
         |topic=t
         |redshift_tmpdir=${tmp("graft-copy-factory-tmp")}
         |redshift_iam_role=arn:aws:iam::0:role/r
         |aws_region=us-east-1
         |tempformat=CSV GZIP
         |""".stripMargin)
    assert(cfg.redshiftTmpdir.isDefined && cfg.tempformat == "CSV GZIP")
    val db = tmp("graft-copy-factory") + "/db"
    val target = graft.streaming.CdcApp.sinkFactory(spark,
      s"jdbc:derby:$db;create=true", cfg)(spec)
    target.merge(batch(Seq((1L, "a", "u"), (2L, "b", "u"))), spec)
    target.merge(batch(Seq((2L, "B", "u"))), spec)
    assert(readTarget(db) == Seq((1L, "a"), (2L, "B")))
  }

  test("JSON GZIP tempformat round-trips nulls and timestamps; COPY text says FORMAT AS JSON 'auto' GZIP") {
    import spark.implicits._
    val db = tmp("graft-copy-json") + "/db"
    val sink = mkSink(db, tmp("graft-copy-tmp-json"), tempformat = "JSON GZIP")
    val rows = Seq(
      (1L, Option("""say "hi", ok"""), Option(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")), "u"),
      (2L, None: Option[String], None: Option[java.sql.Timestamp], "u"))
      .toDF("id", "name", "seen_at", "op_aws")
    sink.writeBatch(rows, spec)
    val back = spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
      .option("dbtable", "t_copy").load().collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getTimestamp(2))))
      .sortBy(_._1).toSeq
    assert(back == Seq(
      (1L, Some("""say "hi", ok"""), Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"))),
      (2L, None, None)))
    assert(RedshiftSql.copySql("s", "u", RedshiftSql.CopyOptions(tempformat = "JSON GZIP"))
      .contains("MANIFEST FORMAT AS JSON 'auto' GZIP TRUNCATECOLUMNS"))
  }

  test("a verbatim reference job-ec2.properties resolves endpoint, schema, COPY and creds") {
    // the reference's own property names, all at once (config/job-ec2.properties)
    val cfg = graft.config.JobConfig.fromProperties(
      """aws_region = us-east-1
        |s3_endpoint = s3.us-east-1.amazonaws.com
        |checkpoint_location = /tmp/ckpt
        |checkpoint_interval = 30 seconds
        |kafka_broker = b-1.example:9092
        |topic = flink_mysql_cdc
        |startingOffsets = latest
        |thread_max_workers = 30
        |disable_msg = true
        |cdc_format = FLINK-CDC
        |max_offsets_per_trigger = 1000000
        |consumer_group = cdc-redshift-ec2-g1
        |tempformat = CSV
        |maxerror = 100
        |redshift_secret_id =
        |redshift_host = wh.example.com
        |redshift_port = 5439
        |redshift_username = ssa
        |redshift_password = pw
        |redshift_database = dev
        |redshift_schema = cdc_data_04
        |redshift_tmpdir = /tmp/tmpdir
        |redshift_iam_role = arn:aws:iam::0:role/r
        |""".stripMargin)
    assert(cfg.jdbcHost.contains("wh.example.com") && cfg.jdbcPort.contains(5439))
    assert(cfg.jdbcUser.contains("ssa") && cfg.jdbcPassword.contains("pw"))
    assert(cfg.jdbcDatabase.contains("dev") && cfg.redshiftSchema == "cdc_data_04")
    assert(cfg.s3Endpoint.contains("s3.us-east-1.amazonaws.com"))
    assert(cfg.maxError == 100L && cfg.tempformat == "CSV")
    // the explicit endpoint lands on the sink URL, like a secret's would
    val c = cfg.credentials(_ => None)
    assert(c.applyTo("jdbc:redshift://placeholder:1/x") ==
      "jdbc:redshift://wh.example.com:5439/dev")
    // a secret still wins over the explicit endpoint where both are set
    val env = Map("S" -> """{"host": "rotated.example.com", "password": "rpw"}""")
    val c2 = graft.config.Secrets.credentials(Some("env:S"),
      cfg.jdbcUser, cfg.jdbcPassword, env.get, cfg.jdbcHost, cfg.jdbcPort, cfg.jdbcDatabase)
    assert(c2.host.contains("rotated.example.com") && c2.port.contains(5439))
    assert(c2.password.contains("rpw") && c2.username.contains("ssa"))
  }

  test("redshift_schema qualifies target and staging (reference job.properties shape)") {
    val cfg = graft.config.JobConfig.fromProperties(
      s"""kafka_broker=k:9092
         |topic=t
         |redshift_schema=cdcx
         |redshift_tmpdir=${tmp("graft-copy-schema-tmp")}
         |""".stripMargin)
    assert(cfg.redshiftSchema == "cdcx")
    val db = tmp("graft-copy-schema") + "/db"
    val target = graft.streaming.CdcApp.sinkFactory(spark,
      s"jdbc:derby:$db;create=true", cfg)(spec)
    target.merge(batch(Seq((1L, "a", "u"))), spec)
    // the table lives in the configured schema, not the default one
    val inSchema = spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
      .option("dbtable", "cdcx.t_copy").load()
    assert(inSchema.count() == 1)
    // and the snapshot view reads the qualified table
    assert(target.snapshot(spark).count() == 1)
    intercept[Exception] { // nothing landed unqualified
      spark.read.format("jdbc").option("url", s"jdbc:derby:$db;create=true")
        .option("dbtable", "t_copy").load().collect()
    }
  }

  test("production statement-executor path: staging is pre-created before " +
    "COPY runs, and re-created after the Mongo-family per-batch drop") {
    import spark.implicits._
    val db = tmp("graft-copy-precreate") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    var copies = 0
    // Stands in for StatementCopyExecutor (requiresExistingStaging stays
    // true): a real warehouse COPY can only load into an EXISTING table,
    // so the executor first proves the table is queryable, then loads the
    // staged parquet through plain INSERTs on the merge connection.
    val tempDir = tmp("graft-copy-precreate-tmp")
    val exec = new graft.sink.CopyExecutor {
      def load(conn: java.sql.Connection, stagingTable: String,
               stage: DataFrame): Unit =
        CopyStage.withStaged(stage, tempDir, "PARQUET", keep = false) { batch =>
          val schema = stage.schema
          val st = conn.createStatement()
          try st.executeQuery(s"SELECT COUNT(*) FROM $stagingTable")
          finally st.close() // throws if the sink failed to pre-create
          copies += 1
          val rows = spark.read.schema(schema).parquet(batch.files: _*).collect()
          val cols = schema.fieldNames.map("\"" + _ + "\"").mkString(",")
          val ph = schema.fieldNames.map(_ => "?").mkString(",")
          val ps = conn.prepareStatement(
            s"INSERT INTO $stagingTable ($cols) VALUES ($ph)")
          try rows.foreach { r =>
            schema.fieldNames.indices.foreach(i => ps.setObject(i + 1, r.get(i)))
            ps.executeUpdate()
          } finally ps.close()
        }
    }
    val sink = new WarehouseMergeSink(url, new Properties(), exec, maxVarchar = 32672)
    def mongoBatch(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "name", "op_aws")
    val mongoSpec = spec.copy(primaryKey = Nil)
    sink.writeBatch(mongoBatch(Seq((1L, "a", "u"))), mongoSpec)
    // batch 1 dropped staging; batch 2 must find it pre-created again
    sink.writeBatch(mongoBatch(Seq((1L, "A", "u"), (2L, "b", "u"))), mongoSpec)
    assert(copies == 2)
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "t_copy").load().collect()
      .map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("name")))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "A"), (2L, "b")))
  }

  test("replay executor refuses a manifest whose mandatory entry is missing") {
    val dir = tmp("graft-copy-missing")
    val staged = CopyStage.stage(batch(Seq((1L, "a", "u"))), dir, "CSV")
    assert(new java.io.File(staged.files.head).delete())
    val url = s"jdbc:derby:${tmp("graft-copy-missing-db")}/db;create=true"
    val ex = intercept[IllegalStateException] {
      new ReplayCopyExecutor(spark, url, new Properties(), dir)
        .replay(staged, batch(Nil).schema)
    }
    assert(ex.getMessage.contains("mandatory"))
  }

  test("retry-once: when both attempts fail, the rethrown error carries the first") {
    val db = tmp("graft-copy-retry2") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    // A user-managed target whose `name` column cannot take the batch's
    // strings: every INSERT-SELECT fails, so the retry fails too.
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("""CREATE TABLE t_copy ("id" BIGINT, "name" INTEGER)""")
      finally st.close()
    } finally conn.close()
    val ex = intercept[java.sql.SQLException] {
      mkSink(db, tmp("graft-copy-tmp-retry2")).writeBatch(batch(Seq((1L, "a", "u"))), spec)
    }
    val suppressed = ex.getSuppressed.toSeq
    assert(suppressed.size == 1, suppressed)
    assert(suppressed.head.isInstanceOf[java.sql.SQLException] && (suppressed.head ne ex))
    assert(readTarget(db).isEmpty)
  }

  test("a column name containing a double quote fails the batch before any DDL") {
    import spark.implicits._
    val db = tmp("graft-copy-quote") + "/db"
    val sink = mkSink(db, tmp("graft-copy-tmp-quote"))
    sink.writeBatch(batch(Seq((1L, "a", "u"))), spec)
    val before = sink.catalogColumns("t_copy")
    val evil = "a\" INTEGER, \"b"
    val ex = intercept[IllegalArgumentException] {
      sink.writeBatch(Seq((2L, "b", 7L, "u")).toDF("id", "name", evil, "op_aws"), spec)
    }
    assert(ex.getMessage.contains("t_copy") && ex.getMessage.contains(evil), ex.getMessage)
    assert(sink.catalogColumns("t_copy") == before)
    assert(readTarget(db) == Seq((1L, "a")))
  }

  test("sinkFactory without redshift_tmpdir loads staging through Spark's JDBC writer") {
    val cfg = graft.config.JobConfig.fromProperties(
      """kafka_broker=k:9092
        |topic=t
        |""".stripMargin)
    assert(cfg.redshiftTmpdir.isEmpty)
    val db = tmp("graft-copy-factory-direct") + "/db"
    val target = graft.streaming.CdcApp.sinkFactory(spark,
      s"jdbc:derby:$db;create=true", cfg)(spec)
    target.merge(batch(Seq((1L, "a", "u"), (2L, "b", "u"))), spec)
    target.merge(batch(Seq((2L, "B", "u"), (1L, "a", "d"), (3L, "c", "u"))), spec)
    val snap = target.snapshot(spark).collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name"))))
      .toSeq.sortBy(_._1)
    assert(snap == Seq((2L, "B"), (3L, "c")))
  }
}
