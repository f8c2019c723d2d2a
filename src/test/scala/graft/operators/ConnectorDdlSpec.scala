package graft.operators

import graft.{GraftSql, SparkSuite}

/** Connector DDL front door (ConnectorDdl via GraftSql): CREATE TABLE
  * … WITH ('connector'=…), computed columns, WATERMARK clause, PRIMARY
  * KEY upsert INSERT, datagen, print/blackhole sinks.
  */
class ConnectorDdlSpec extends SparkSuite {
  import spark.implicits._

  test("filesystem source table: schema, computed column, SELECT") {
    val dir = tmpDir("ddl_src")
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"))
      .toDF("id", "amount", "tag").write.mode("overwrite").parquet(dir)
    GraftSql.sql(spark,
      s"""CREATE TABLE fs_src (
         |  id BIGINT,
         |  amount DOUBLE,
         |  tag STRING,
         |  doubled AS amount * 2
         |) WITH ('connector' = 'filesystem', 'path' = '$dir',
         |        'format' = 'parquet')""".stripMargin)
    val rows = GraftSql.sql(spark,
      "SELECT tag, SUM(doubled) AS s FROM fs_src GROUP BY tag ORDER BY tag")
      .as[(String, Double)].collect().toSeq
    assert(rows == Seq(("a", 80.0), ("b", 40.0)))
  }

  test("streaming filesystem source applies the WATERMARK clause") {
    val dir = tmpDir("ddl_stream")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts").write.mode("overwrite").parquet(dir)
    GraftSql.sql(spark,
      s"""CREATE TABLE fs_stream (
         |  id BIGINT,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$dir',
         |        'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    val df = spark.table("fs_stream")
    assert(df.isStreaming)
    assert(df.queryExecution.analyzed.toString.contains("EventTimeWatermark"))
  }

  test("INSERT INTO filesystem sink writes and re-registers the view") {
    val dir = tmpDir("ddl_sink") + "/out"
    GraftSql.sql(spark,
      s"""CREATE TABLE fs_sink (tag STRING, total DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    Seq(("x", 1.0), ("x", 2.0), ("y", 5.0)).toDF("tag", "v")
      .createOrReplaceTempView("ddl_in")
    GraftSql.sql(spark,
      "INSERT INTO fs_sink SELECT tag, SUM(v) AS total FROM ddl_in GROUP BY tag")
    val rows = GraftSql.sql(spark, "SELECT * FROM fs_sink ORDER BY tag")
      .as[(String, Double)].collect().toSeq
    assert(rows == Seq(("x", 3.0), ("y", 5.0)))
  }

  test("PRIMARY KEY filesystem table: INSERT upserts by key") {
    val dir = tmpDir("ddl_pk") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE pk_t (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      "INSERT INTO pk_t SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(k, v)")
    GraftSql.sql(spark,
      "INSERT INTO pk_t SELECT * FROM VALUES (2, 'b2'), (3, 'c') AS t(k, v)")
    val rows = GraftSql.sql(spark, "SELECT k, v FROM pk_t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("PK upsert: duplicate keys INSIDE one statement resolve to the last row") {
    // all rows of one INSERT share the statement seq; the intra-batch
    // tiebreaker (monotonically increasing id inside the __ddl_seq
    // struct) must make the LATER duplicate win deterministically
    val dir = tmpDir("ddl_pk_dup") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE pkdup_t (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      "INSERT INTO pkdup_t SELECT * FROM VALUES " +
        "(1, 'first'), (1, 'second'), (1, 'third'), (2, 'x') AS t(k, v)")
    val rows = GraftSql.sql(spark, "SELECT k, v FROM pkdup_t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "third"), (2L, "x")))
  }

  test("streaming INSERT INTO: source table with watermark drains to a sink") {
    val src = tmpDir("ddl_sjob_src")
    val dst = tmpDir("ddl_sjob_dst") + "/out"
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), 7.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), 9.0))
      .toDF("id", "ts", "v").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE sj_src (
         |  id BIGINT, ts TIMESTAMP(3), v DOUBLE,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '$src',
         |        'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    GraftSql.sql(spark,
      s"""CREATE TABLE sj_dst (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$dst',
         |      'format' = 'parquet')""".stripMargin)
    // the reference's job shape: one INSERT statement runs the stream;
    // AvailableNow drains the bounded directory and returns
    GraftSql.sql(spark, "INSERT INTO sj_dst SELECT id, v FROM sj_src")
    val rows = GraftSql.sql(spark, "SELECT id, v FROM sj_dst ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 5.0), (2L, 7.0), (3L, 9.0)))
  }

  test("EXECUTE STATEMENT SET runs every INSERT (multi-sink job)") {
    val d1 = tmpDir("ddl_ss1") + "/a"
    val d2 = tmpDir("ddl_ss2") + "/b"
    Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
      .createOrReplaceTempView("ss_in")
    GraftSql.sql(spark,
      s"""CREATE TABLE ss_a (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$d1', 'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      s"""CREATE TABLE ss_b (n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$d2', 'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """EXECUTE STATEMENT SET BEGIN
        |  INSERT INTO ss_a SELECT id, v FROM ss_in;
        |  INSERT INTO ss_b SELECT COUNT(*) AS n FROM ss_in;
        |END""".stripMargin)
    assert(spark.read.parquet(d1).count() == 2)
    assert(spark.read.parquet(d2).as[Long].collect().toSeq == Seq(2L))
  }

  test("datagen is deterministic; blackhole INSERT executes") {
    GraftSql.sql(spark,
      """CREATE TABLE gen (sid BIGINT, label STRING)
        |WITH ('connector' = 'datagen', 'number-of-rows' = '5',
        |      'fields.sid.kind' = 'sequence', 'fields.sid.start' = '100')""".stripMargin)
    val a = GraftSql.sql(spark, "SELECT * FROM gen ORDER BY sid").collect()
    val b = GraftSql.sql(spark, "SELECT * FROM gen ORDER BY sid").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getLong(0)).toSeq == (100L to 104L))
    GraftSql.sql(spark,
      """CREATE TABLE sink_bh (sid BIGINT)
        |WITH ('connector' = 'blackhole')""".stripMargin)
    GraftSql.sql(spark, "INSERT INTO sink_bh SELECT sid FROM gen")
  }

  test("streaming datagen (rows-per-second) and SET/RESET config statements") {
    GraftSql.sql(spark,
      """CREATE TABLE gen_stream (sid BIGINT, label STRING)
        |WITH ('connector' = 'datagen', 'rows-per-second' = '5',
        |      'fields.sid.kind' = 'sequence')""".stripMargin)
    val df = spark.table("gen_stream")
    assert(df.isStreaming && df.columns.toSeq == Seq("sid", "label"))
    // SET writes the session conf through the front door; RESET clears
    GraftSql.sql(spark, "SET 'spark.graft.test.knob' = 'on'")
    assert(spark.conf.get("spark.graft.test.knob") == "on")
    GraftSql.sql(spark, "RESET 'spark.graft.test.knob'")
    assert(spark.conf.getOption("spark.graft.test.knob").isEmpty)
  }

  test("PARTITIONED BY: partitioned writes, static partitions, pruning") {
    val dir = tmpDir("ddl_part") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE part_t (id BIGINT, v DOUBLE, tag STRING)
         |PARTITIONED BY (tag)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """INSERT INTO part_t SELECT * FROM
        |VALUES (1, 1.0, 'a'), (2, 2.0, 'b') AS t(id, v, tag)""".stripMargin)
    // the directory layout IS partitioned
    assert(new java.io.File(s"$dir/tag=a").isDirectory)
    // static partition: the value comes from the PARTITION clause
    GraftSql.sql(spark,
      """INSERT INTO part_t PARTITION (tag = 'c')
        |SELECT * FROM VALUES (3, 3.0) AS t(id, v)""".stripMargin)
    // dynamic-partition OVERWRITE replaces ONLY the written partition
    GraftSql.sql(spark,
      """INSERT OVERWRITE part_t PARTITION (tag = 'a')
        |SELECT * FROM VALUES (9, 9.0) AS t(id, v)""".stripMargin)
    val rows = GraftSql.sql(spark,
      "SELECT id, tag FROM part_t ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((2L, "b"), (3L, "c"), (9L, "a")))
    // partition pruning reaches the scan
    val plan = GraftSql.sql(spark, "SELECT id FROM part_t WHERE tag = 'b'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(tag"))
  }

  test("ALTER TABLE SET/RESET edits options in place; DROP unregisters") {
    val d1 = tmpDir("ddl_alter1")
    val d2 = tmpDir("ddl_alter2")
    Seq((1L, "one")).toDF("id", "tag").write.mode("overwrite").parquet(d1)
    Seq((2L, "two"), (3L, "three")).toDF("id", "tag")
      .write.mode("overwrite").parquet(d2)
    GraftSql.sql(spark,
      s"""CREATE TABLE alter_t (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$d1',
         |      'format' = 'parquet')""".stripMargin)
    // SET repoints the table; the readable view refreshes
    GraftSql.sql(spark, s"ALTER TABLE alter_t SET ('path' = '$d2')")
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM alter_t")
      .head().getLong(0) == 2L)
    // RESET of a load-bearing key fails loudly
    val e = intercept[RuntimeException] {
      GraftSql.sql(spark, "ALTER TABLE alter_t RESET ('connector')")
    }
    assert(e.getMessage.contains("connector"))
    // DROP unregisters: the name stops resolving through the front door
    GraftSql.sql(spark, "DROP TABLE alter_t")
    intercept[Exception] {
      GraftSql.sql(spark, "SELECT * FROM alter_t").collect()
    }
    // and re-CREATE over the dropped name works
    GraftSql.sql(spark,
      s"""CREATE TABLE alter_t (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$d1',
         |      'format' = 'parquet')""".stripMargin)
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM alter_t")
      .head().getLong(0) == 1L)
  }

  test("CDC-format table: PK batch scan materializes, streaming scan is a changelog") {
    val dir = tmpDir("ddl_cdc")
    val lines = Seq(
      """{"after":{"id":1,"v":"a"},"op":"c","ts_ms":10}""",
      """{"before":{"id":1,"v":"a"},"after":{"id":1,"v":"b"},"op":"u","ts_ms":20}""",
      """{"after":{"id":2,"v":"x"},"op":"c","ts_ms":30}""",
      """{"before":{"id":2,"v":"x"},"op":"d","ts_ms":40}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    GraftSql.sql(spark,
      s"""CREATE TABLE cdc_t (id BIGINT, v STRING,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'debezium-json')""".stripMargin)
    // batch: materialized current state — update applied, delete removed
    val rows = GraftSql.sql(spark, "SELECT id, v FROM cdc_t ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "b")))
    // streaming scan: the raw changelog with __rowkind, for retract
    // consumers downstream
    GraftSql.sql(spark,
      s"""CREATE TABLE cdc_s (id BIGINT, v STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'debezium-json', 'scan.streaming' = 'true')""".stripMargin)
    val sdf = spark.table("cdc_s")
    assert(sdf.isStreaming &&
      sdf.columns.contains(graft.streaming.Changelog.RowKindCol))
  }

  test("METADATA columns map to Spark's _metadata; DESCRIBE and SHOW CREATE TABLE round-trip") {
    val dir = tmpDir("ddl_meta")
    Seq((1L, "x"), (2L, "y")).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    GraftSql.sql(spark,
      s"""CREATE TABLE meta_t (
         |  id BIGINT,
         |  tag STRING,
         |  fpath STRING METADATA FROM 'file.path',
         |  fsize BIGINT METADATA FROM 'file.size' VIRTUAL
         |) WITH ('connector' = 'filesystem', 'path' = '$dir',
         |        'format' = 'parquet')""".stripMargin)
    val rows = GraftSql.sql(spark,
      "SELECT id, fpath, fsize FROM meta_t ORDER BY id").collect()
    assert(rows.forall(r => r.getString(1).contains(dir) &&
      r.getString(1).endsWith(".parquet") && r.getLong(2) > 0L))
    // PROCTIME() computed column maps to the engine clock
    GraftSql.sql(spark, "ALTER TABLE meta_t ADD (pt AS PROCTIME())")
    val pt = GraftSql.sql(spark, "SELECT pt FROM meta_t LIMIT 1")
      .head().getTimestamp(0)
    assert(math.abs(pt.getTime - System.currentTimeMillis()) < 60000L)
    // DESCRIBE: physical + metadata-as-computed rows
    val desc = GraftSql.sql(spark, "DESCRIBE meta_t")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("id") == "physical" && desc("fpath").startsWith("computed:"))
    // SHOW CREATE TABLE output is executable DDL: re-create from it
    val ddl = GraftSql.sql(spark, "SHOW CREATE TABLE meta_t")
      .head().getString(0)
    GraftSql.sql(spark, "DROP TABLE meta_t")
    GraftSql.sql(spark, ddl.replace("CREATE TABLE meta_t", "CREATE TABLE meta_t2"))
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM meta_t2")
      .head().getLong(0) == 2L)
  }

  test("format-scoped options pass through: delimiter, header, gzip compression") {
    val dir = tmpDir("ddl_fmtopt") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE fmtopt_t (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'csv', 'csv.field-delimiter' = ';',
         |      'csv.header' = 'true', 'csv.compression' = 'gzip')""".stripMargin)
    GraftSql.sql(spark,
      "INSERT INTO fmtopt_t SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, tag)")
    // files are gzip'd csv; the header + delimiter round-trip
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".csv.gz")), files.mkString(","))
    val rows = GraftSql.sql(spark, "SELECT id, tag FROM fmtopt_t ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")))
  }

  test("CTAS, ALTER TABLE COMPACT, and SHOW PARTITIONS") {
    val dir = tmpDir("ddl_ctas") + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "tag")
      .createOrReplaceTempView("ctas_in")
    // CTAS: schema from the query, materialized on create
    GraftSql.sql(spark,
      s"""CREATE TABLE ctas_t WITH ('connector' = 'filesystem',
         |  'path' = '$dir', 'format' = 'parquet')
         |AS SELECT tag, COUNT(*) AS n FROM ctas_in GROUP BY tag""".stripMargin)
    val rows = GraftSql.sql(spark, "SELECT tag, n FROM ctas_t ORDER BY tag")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("a", 2L), ("b", 1L)))
    // COMPACT: write many small appends, compact, content unchanged,
    // fewer files
    (1 to 5).foreach { i =>
      GraftSql.sql(spark,
        s"INSERT INTO ctas_t SELECT 'z$i' AS tag, CAST($i AS BIGINT) AS n")
    }
    def nFiles() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = nFiles()
    GraftSql.sql(spark, "ALTER TABLE ctas_t COMPACT")
    assert(nFiles() < before)
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM ctas_t")
      .head().getLong(0) == 7L)
    // SHOW PARTITIONS over a partitioned table
    val pdir = tmpDir("ddl_showp") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE showp_t (id BIGINT, tag STRING) PARTITIONED BY (tag)
         |WITH ('connector' = 'filesystem', 'path' = '$pdir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      "INSERT INTO showp_t SELECT id, tag FROM ctas_in")
    val parts = GraftSql.sql(spark, "SHOW PARTITIONS showp_t")
      .as[String].collect().toSeq
    assert(parts == Seq("tag=a", "tag=b"))
  }

  test("ALTER TABLE ADD evolves the schema; RENAME TO moves the name") {
    val dir = tmpDir("ddl_evolve")
    Seq(Tuple1(1L)).toDF("id").write.mode("overwrite").parquet(dir)
    GraftSql.sql(spark,
      s"""CREATE TABLE evolve_t (id BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    // append a physical column (old files read NULL) + a computed one
    GraftSql.sql(spark,
      "ALTER TABLE evolve_t ADD (tag STRING, doubled AS id * 2)")
    val row = GraftSql.sql(spark,
      "SELECT id, tag, doubled FROM evolve_t").head()
    assert(row.getLong(0) == 1L && row.isNullAt(1) && row.getLong(2) == 2L)
    val dup = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "ALTER TABLE evolve_t ADD (id BIGINT)")
    }
    assert(dup.getMessage.contains("already exists"))
    // rename: old name gone, new name serves the same table
    GraftSql.sql(spark, "ALTER TABLE evolve_t RENAME TO evolve_t2")
    assert(ConnectorDdl.lookup(spark, "evolve_t").isEmpty)
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM evolve_t2")
      .head().getLong(0) == 1L)
  }

  test("RENAME of a materialized PK table keeps it readable; nested SHOW PARTITIONS") {
    val dir = tmpDir("ddl_pkren") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE pkren_t (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      "INSERT INTO pkren_t SELECT * FROM VALUES (1, 'a') AS t(k, v)")
    GraftSql.sql(spark, "ALTER TABLE pkren_t RENAME TO pkren_t2")
    // the new name must serve the already-materialized upsert state
    assert(GraftSql.sql(spark, "SELECT k, v FROM pkren_t2")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))

    // multi-column partitioning: SHOW PARTITIONS walks the nesting
    val pdir = tmpDir("ddl_showp2") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE showp2_t (id BIGINT, a STRING, b STRING)
         |PARTITIONED BY (a, b)
         |WITH ('connector' = 'filesystem', 'path' = '$pdir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """INSERT INTO showp2_t SELECT * FROM
        |VALUES (1, 'x', 'p'), (2, 'x', 'q'), (3, 'y', 'p') AS t(id, a, b)""".stripMargin)
    val parts = GraftSql.sql(spark, "SHOW PARTITIONS showp2_t")
      .as[String].collect().toSeq
    assert(parts == Seq("a=x/b=p", "a=x/b=q", "a=y/b=p"))
  }

  test("row-level DELETE, UPDATE, and TRUNCATE rewrite the table copy-on-write") {
    val dir = tmpDir("ddl_dml") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE dml_t (id BIGINT, v DOUBLE, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """INSERT INTO dml_t SELECT * FROM VALUES
        |(1, 1.0, 'a'), (2, 2.0, 'a'), (3, 3.0, 'b'), (4, 4.0, 'b') AS t(id, v, tag)""".stripMargin)
    GraftSql.sql(spark, "DELETE FROM dml_t WHERE id % 2 = 0")
    GraftSql.sql(spark, "UPDATE dml_t SET v = v * 10 WHERE tag = 'a'")
    val rows = GraftSql.sql(spark, "SELECT id, v FROM dml_t ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 10.0), (3L, 3.0)))
    GraftSql.sql(spark, "TRUNCATE TABLE dml_t")
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM dml_t")
      .head().getLong(0) == 0L)
    // a truncated table accepts new inserts
    GraftSql.sql(spark, "INSERT INTO dml_t SELECT 9, 9.0, 'z'")
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM dml_t")
      .head().getLong(0) == 1L)
  }

  test("DML edge semantics: NULL predicates, snapshot SET, quoted WHERE, fresh PK dirs") {
    val dir = tmpDir("ddl_dml_edge") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE dmle_t (id BIGINT, v DOUBLE, w DOUBLE, note STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    // DELETE before any INSERT is a no-op, not a path error
    GraftSql.sql(spark, "DELETE FROM dmle_t WHERE id = 1")
    GraftSql.sql(spark,
      """INSERT INTO dmle_t SELECT * FROM VALUES
        |(1, 10.0, 1.0, 'a'), (2, CAST(NULL AS DOUBLE), 2.0, 'see where it fails')
        |AS t(id, v, w, note)""".stripMargin)
    // a NULL predicate keeps the row (SQL DELETE removes TRUE only)
    GraftSql.sql(spark, "DELETE FROM dmle_t WHERE v > 5")
    assert(GraftSql.sql(spark, "SELECT id FROM dmle_t ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L))
    // SET expressions see the PRE-update snapshot: a swap works, and a
    // CASE with comparison operators + a quoted ' WHERE ' both parse
    GraftSql.sql(spark,
      """INSERT INTO dmle_t SELECT 3, 7.0, 8.0, 'x'""")
    GraftSql.sql(spark,
      """UPDATE dmle_t SET v = w, w = CASE WHEN v < 100 THEN v ELSE w END,
        |note = 'see where it goes' WHERE id = 3""".stripMargin)
    val r3 = GraftSql.sql(spark,
      "SELECT v, w, note FROM dmle_t WHERE id = 3").head()
    assert(r3.getDouble(0) == 8.0 && r3.getDouble(1) == 7.0 &&
      r3.getString(2) == "see where it goes")
    // partitioned DELETE: a full copy-on-write rewrite keeps layout
    val pdir = tmpDir("ddl_dml_part") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE dmle_p (id BIGINT, tag STRING) PARTITIONED BY (tag)
         |WITH ('connector' = 'filesystem', 'path' = '$pdir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """INSERT INTO dmle_p SELECT * FROM
        |VALUES (1, 'a'), (2, 'a'), (3, 'b') AS t(id, tag)""".stripMargin)
    GraftSql.sql(spark, "DELETE FROM dmle_p WHERE id = 1")
    assert(GraftSql.sql(spark, "SELECT id, tag FROM dmle_p ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((2L, "a"), (3L, "b")))
    assert(new java.io.File(s"$pdir/tag=a").isDirectory)
    // a STATEMENT SET whose literal contains ';' splits quote-aware
    GraftSql.sql(spark,
      """EXECUTE STATEMENT SET BEGIN
        |UPDATE dmle_t SET note = 'a;b' WHERE id = 3;
        |DELETE FROM dmle_p WHERE id = 3
        |END""".stripMargin)
    assert(GraftSql.sql(spark, "SELECT note FROM dmle_t WHERE id = 3")
      .head().getString(0) == "a;b")
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM dmle_p")
      .head().getLong(0) == 1L)
    // a FRESH PK CREATE over a non-empty foreign dir defers its view to
    // the first INSERT instead of serving the old files
    GraftSql.sql(spark,
      s"""CREATE TABLE dmle_pk (id BIGINT, v DOUBLE,
         |  PRIMARY KEY (id) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    intercept[Exception] {
      GraftSql.sql(spark, "SELECT * FROM dmle_pk").collect()
    }
  }

  test("SHOW CREATE TABLE round-trips watermark, key, and partitions") {
    val dir = tmpDir("ddl_showfull") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE showfull_t (
         |  id BIGINT, ts TIMESTAMP(3), region STRING,
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
         |  PRIMARY KEY (id) NOT ENFORCED
         |) PARTITIONED BY (region)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    val ddl = GraftSql.sql(spark, "SHOW CREATE TABLE showfull_t")
      .head().getString(0)
    assert(ddl.contains("WATERMARK FOR ts AS ts - INTERVAL '5' SECOND") &&
      ddl.contains("PRIMARY KEY (id) NOT ENFORCED") &&
      ddl.contains("PARTITIONED BY (region)"))
    // the reconstruction is executable and preserves every feature
    GraftSql.sql(spark,
      ddl.replace("CREATE TABLE showfull_t", "CREATE TABLE showfull_t2"))
    val d2 = ConnectorDdl.lookup(spark, "showfull_t2").get
    assert(d2.primaryKey == Seq("id") && d2.partitions == Seq("region") &&
      d2.watermark.contains(("ts", "5 second")))
  }

  test("CREATE TABLE LIKE inherits schema and options; EXCLUDING drops them") {
    val dir = tmpDir("ddl_like") + "/src"
    Seq((1L, "x")).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    GraftSql.sql(spark,
      s"""CREATE TABLE like_base (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    // derived table: extra computed column, inherited options
    GraftSql.sql(spark,
      "CREATE TABLE like_kid (doubled AS id * 2) LIKE like_base")
    val rows = GraftSql.sql(spark,
      "SELECT id, tag, doubled FROM like_kid")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "x", 2L)))
    // EXCLUDING OPTIONS: the child must supply its own connector
    val e = intercept[RuntimeException] {
      GraftSql.sql(spark,
        "CREATE TABLE like_bad LIKE like_base (EXCLUDING OPTIONS)")
    }
    assert(e.getMessage.contains("connector"))
  }

  test("CREATE TABLE LIKE with an UNREGISTERED base falls through to Spark") {
    // Spark-native catalog DDL must keep working: the LIKE arm claims a
    // statement only when the base is a registered connector table
    assert(ConnectorDdl.step(spark,
      "CREATE TABLE native_kid LIKE native_base", GraftSql.sql).isEmpty)
    // the front door routes it to spark.sql — the failure is Spark's
    // own missing-table analysis error, not the registry error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.sql(spark, "CREATE TABLE native_kid LIKE native_base_nope")
    }
    assert(!e.getMessage.contains("not a registered connector table"))
    // but the CONNECTOR form of LIKE (WITH options / column body) is
    // never valid Spark SQL — it stays claimed and gets the registry
    // diagnostic even when the base is a typo
    val e2 = intercept[RuntimeException] {
      GraftSql.sql(spark,
        "CREATE TABLE conn_kid WITH ('path' = '/tmp/x') LIKE typoed_base")
    }
    assert(e2.getMessage.contains("not a registered connector table"))
  }

  test("row-level DML stays STATIC overwrite under a dynamic session conf") {
    val dir = tmpDir("ddl_dml_dyn") + "/t"
    GraftSql.sql(spark,
      s"""CREATE TABLE dmldyn_t (id BIGINT, tag STRING) PARTITIONED BY (tag)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """INSERT INTO dmldyn_t SELECT * FROM
        |VALUES (1, 'a'), (2, 'a'), (3, 'b') AS t(id, tag)""".stripMargin)
    // session conf set to dynamic via the front door — a DELETE that
    // empties partition 'a' must still remove it (static overwrite
    // pinned on the writer), not retain the stale directory
    GraftSql.sql(spark,
      "SET 'spark.sql.sources.partitionOverwriteMode' = 'dynamic'")
    try {
      GraftSql.sql(spark, "DELETE FROM dmldyn_t WHERE tag = 'a'")
      assert(GraftSql.sql(spark, "SELECT id, tag FROM dmldyn_t")
        .as[(Long, String)].collect().toSeq == Seq((3L, "b")))
    } finally GraftSql.sql(spark,
      "RESET 'spark.sql.sources.partitionOverwriteMode'")
  }

  test("streaming INSERT of an updating aggregate routes through the upsert sink") {
    // changelog-mode inference at the front door: the unwindowed GROUP BY
    // over a streaming scan is an UPDATE stream; the PRIMARY KEY on the
    // target routes it through the keyed upsert merge automatically
    // (FlinkChangelogModeInferenceProgram → upsert materialization)
    val src = tmpDir("ddl_chlog_src")
    val out = tmpDir("ddl_chlog_out") + "/t"
    Seq((1L, "a", 10.0), (2L, "a", 5.0), (3L, "b", 7.0))
      .toDF("id", "tag", "v").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE chlog_src (id BIGINT, tag STRING, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    GraftSql.sql(spark,
      s"""CREATE TABLE chlog_agg (tag STRING, total DOUBLE,
         |  PRIMARY KEY (tag) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$out',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      "INSERT INTO chlog_agg SELECT tag, SUM(v) AS total FROM chlog_src GROUP BY tag")
    assert(GraftSql.sql(spark, "SELECT tag, total FROM chlog_agg ORDER BY tag")
      .as[(String, Double)].collect().toSeq == Seq(("a", 15.0), ("b", 7.0)))
    // more input arrives; a second INSERT re-drains and the upsert
    // REPLACES each key's row with the new aggregate (not append)
    Seq((4L, "a", 1.0)).toDF("id", "tag", "v").write.mode("append").parquet(src)
    GraftSql.sql(spark,
      "INSERT INTO chlog_agg SELECT tag, SUM(v) AS total FROM chlog_src GROUP BY tag")
    assert(GraftSql.sql(spark, "SELECT tag, total FROM chlog_agg ORDER BY tag")
      .as[(String, Double)].collect().toSeq == Seq(("a", 16.0), ("b", 7.0)))
  }

  test("streaming INSERT of an updating aggregate into a KEYLESS table fails loudly") {
    val src = tmpDir("ddl_chlog2_src")
    val out = tmpDir("ddl_chlog2_out") + "/t"
    Seq((1L, "a", 10.0)).toDF("id", "tag", "v").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE chlog2_src (id BIGINT, tag STRING, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    GraftSql.sql(spark,
      s"""CREATE TABLE chlog2_sink (tag STRING, total DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$out',
         |      'format' = 'parquet')""".stripMargin)
    val e = intercept[RuntimeException] {
      GraftSql.sql(spark,
        "INSERT INTO chlog2_sink SELECT tag, SUM(v) AS total FROM chlog2_src GROUP BY tag")
    }
    // the ENGINE's diagnostic (update-changes + the PRIMARY KEY remedy),
    // not Spark's raw append-mode analysis error
    assert(e.getMessage.contains("update changes") &&
      e.getMessage.contains("PRIMARY KEY"))
  }

  test("print sink emits EVERY row per partition, no driver truncation") {
    GraftSql.sql(spark,
      "CREATE TABLE prt_sink (id BIGINT) WITH ('connector' = 'print')")
    spark.range(50).toDF("id").createOrReplaceTempView("prt_src")
    // local mode shares stdout with the executors — capture it and
    // assert all 50 rows print in the +I[...] per-row format (the
    // console-sink route would truncate to 20 rows in table format)
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.out
    System.setOut(new java.io.PrintStream(buf, true, "UTF-8"))
    try GraftSql.sql(spark, "INSERT INTO prt_sink SELECT id FROM prt_src")
    finally System.setOut(prev)
    val printed = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("+I[")).toSeq
    assert(printed.length == 50)
    assert((0L until 50L).forall(i => printed.contains(s"+I[$i]")))
  }

  test("streaming INSERT into a blackhole drains the stream") {
    val src = tmpDir("ddl_bh_src")
    Seq((1L, 2.0)).toDF("id", "v").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE bh_src (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    GraftSql.sql(spark,
      "CREATE TABLE bh_sink (id BIGINT, v DOUBLE) WITH ('connector' = 'blackhole')")
    // must not throw (df.write on a streaming frame would)
    GraftSql.sql(spark, "INSERT INTO bh_sink SELECT id, v FROM bh_src")
  }

  test("SHOW CREATE TABLE escapes backslashes in option values") {
    val dir = tmpDir("ddl_bslash") + "/t"
    Seq((1L, "x")).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    // input uses the ESCAPED form '\\' — the quote scanner treats \'
    // as an escaped quote, so a bare '\' is not expressible directly
    GraftSql.sql(spark,
      s"""CREATE TABLE bslash_t (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'csv', 'csv.escape' = '\\\\', 'note' = 'C:\\\\dir')""".stripMargin)
    val d = ConnectorDdl.lookup(spark, "bslash_t").get
    assert(d.options("csv.escape") == "\\" && d.options("note") == "C:\\dir")
    val ddl = GraftSql.sql(spark, "SHOW CREATE TABLE bslash_t")
      .head().getString(0)
    GraftSql.sql(spark,
      ddl.replace("CREATE TABLE bslash_t", "CREATE TABLE bslash_t2"))
    val d2 = ConnectorDdl.lookup(spark, "bslash_t2").get
    assert(d2.options("csv.escape") == "\\" && d2.options("note") == "C:\\dir")
  }

  test("SHOW CREATE TABLE escapes quotes in option values and round-trips") {
    val dir = tmpDir("ddl_quote") + "/t"
    Seq((1L, "x")).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    GraftSql.sql(spark,
      s"""CREATE TABLE quoted_t (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir',
         |      'format' = 'parquet', 'note' = 'it''s quoted')""".stripMargin)
    assert(ConnectorDdl.lookup(spark, "quoted_t").get
      .options("note") == "it's quoted")
    val ddl = GraftSql.sql(spark, "SHOW CREATE TABLE quoted_t")
      .head().getString(0)
    assert(ddl.contains("'it''s quoted'"))
    // the rendered DDL is executable and preserves the value
    GraftSql.sql(spark,
      ddl.replace("CREATE TABLE quoted_t", "CREATE TABLE quoted_t2"))
    assert(ConnectorDdl.lookup(spark, "quoted_t2").get
      .options("note") == "it's quoted")
  }
}
