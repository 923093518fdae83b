package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TableFunctions

class TableFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("numbers and zeros") {
    assert(TableFunctions.numbers(spark, 5).collect().map(_.getLong(0)).toSeq
      === Seq(0L, 1L, 2L, 3L, 4L))
    assert(TableFunctions.numbers(spark, 3, offset = 10)
      .collect().map(_.getLong(0)).toSeq === Seq(10L, 11L, 12L))
    assert(TableFunctions.zeros(spark, 4).collect().map(_.getInt(0)).toSeq
      === Seq(0, 0, 0, 0))
  }

  test("generateRandom: deterministic, schema-shaped") {
    val schema = new StructType()
      .add("uid", LongType).add("score", DoubleType)
      .add("flag", BooleanType).add("tag", StringType)
    val a = TableFunctions.generateRandom(spark, schema, 100)
    assert(a.schema.fieldNames.toSeq === Seq("uid", "score", "flag", "tag"))
    assert(a.count() === 100)
    val b = TableFunctions.generateRandom(spark, schema, 100)
    assert(a.collect().map(_.toString).toSeq === b.collect().map(_.toString).toSeq)
    // a different seed produces different values
    val c = TableFunctions.generateRandom(spark, schema, 100, seed = 7L)
    assert(a.collect().map(_.toString).toSeq !== c.collect().map(_.toString).toSeq)
    assert(a.select(countDistinct($"uid")).head().getLong(0) > 90)
  }

  test("file: extension inference for csv/json/parquet") {
    val dir = tempDir("tf-file")
    val csv = dir.resolve("t.csv")
    java.nio.file.Files.writeString(csv, "a,b\n1,x\n2,y\n")
    val fromCsv = TableFunctions.file(spark, csv.toString)
    assert(fromCsv.count() === 2 && fromCsv.columns.toSeq === Seq("a", "b"))

    val json = dir.resolve("t.json")
    java.nio.file.Files.writeString(json, """{"a":1}""" + "\n" + """{"a":2}""" + "\n")
    assert(TableFunctions.file(spark, json.toString).count() === 2)

    val pq = dir.resolve("t.parquet").toString
    Seq((1, "x"), (2, "y")).toDF("a", "b").write.parquet(pq)
    assert(TableFunctions.file(spark, pq).count() === 2)
  }

  test("values / null / format: inline sources parse under the schema") {
    val v = TableFunctions.values(spark, "k BIGINT, v STRING",
      Seq(Seq(1L, "a"), Seq(2L, "b")))
    assert(v.schema.map(_.name) === Seq("k", "v") && v.count() === 2)

    val nul = TableFunctions.nullTable(spark, "a INT, b STRING")
    assert(nul.count() === 0 && nul.schema.map(_.name) === Seq("a", "b"))
    // downstream plans resolve against the Null-engine schema
    assert(nul.filter($"a" > 0).select($"b").count() === 0)

    val j = TableFunctions.format(spark, "JSONEachRow",
      "{\"k\":1,\"w\":10}\n{\"k\":2,\"w\":20}")
    assert(j.agg(sum($"w")).head().getLong(0) === 30L)
    val c = TableFunctions.format(spark, "CSVWithNames", "a,b\n1,x\n2,y")
    assert(c.columns.toSeq === Seq("a", "b") && c.count() === 2)
    val tsv = TableFunctions.format(spark, "TSVWithNames", "a\tb\n1\tx")
    assert(tsv.columns.toSeq === Seq("a", "b") && tsv.count() === 1)
  }

  test("view / explain / merge table functions") {
    assert(TableFunctions.view(spark, "SELECT 1 AS x").head().getInt(0) === 1)
    val ex = TableFunctions.explain(spark, "SELECT 1 AS x")
    assert(ex.columns.toSeq === Seq("explain") && ex.count() > 0)
    // viewIfPermitted falls back to the null table on a bad query
    val fb = TableFunctions.viewIfPermitted(spark, "SELECT no_such_col FROM t",
      "x INT")
    assert(fb.count() === 0 && fb.columns.toSeq === Seq("x"))

    Seq((1L, "a")).toDF("id", "s").createOrReplaceTempView("__m_one")
    Seq((2L, 9.5)).toDF("id", "d").createOrReplaceTempView("__m_two")
    val m = TableFunctions.merge(spark, "__m_(one|two)")
    assert(m.count() === 2)
    assert(m.columns.toSet === Set("id", "s", "d", "_table"))
    // absent columns NULL-fill, virtual _table names the source
    val r = m.orderBy($"id").collect()
    assert(r(0).getAs[String]("_table") === "__m_one" && r(1).isNullAt(r(1).fieldIndex("s")))
  }

  test("dictionary('name') TVF: typed rows from the CREATE DICTIONARY catalog") {
    import graft.operators.Dictionaries
    Dictionaries.create("tvfdict",
      Seq((1L, "one", 1.5), (2L, "two", 2.5)).toDF("k", "name", "w"),
      "k", Map("name" -> "String", "w" -> "Float64"))
    try {
      val d = TableFunctions.dictionary(spark, "tvfdict").orderBy($"k")
      assert(d.columns.toSeq === Seq("k", "name", "w"))
      val rows = d.collect()
      assert(rows(0).getLong(0) === 1L && rows(0).getString(1) === "one"
        && rows(0).getDouble(2) === 1.5)
    } finally Dictionaries.drop("tvfdict")
  }

  test("executable('cmd', structure) TVF: TSV stdout under the schema") {
    val d = TableFunctions.executable(spark,
      Seq("/bin/sh", "-c", "printf '1\\tx\\n2\\ty\\n'"), "id BIGINT, s STRING")
    assert(d.orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "x"), (2L, "y")))
  }

  test("system.parts: footer stats match the table (rows, min/max)") {
    import graft.sources.SystemParts
    val dir = tempDir("parts").toString
    spark.range(1000).selectExpr("id", "id % 7 AS g")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val parts = SystemParts.parts(spark, dir, statCols = Seq("id"))
    val rows = parts.collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[Long]("rows")).sum === 1000L)
    assert(rows.forall(_.getAs[Long]("bytes_on_disk") > 0))
    assert(rows.forall(_.getAs[Int]("row_groups") >= 1))
    // global min/max across files covers the full id range
    val mins = rows.map(_.getAs[Map[String, String]]("min_values")("id").toLong)
    val maxs = rows.map(_.getAs[Map[String, String]]("max_values")("id").toLong)
    assert(mins.min === 0L && maxs.max === 999L)
  }

  test("compact merges small files, preserves data, keeps sort stats tight") {
    import graft.sources.{Maintenance, SystemParts}
    val dir = tempDir("compact").toString + "/t"
    spark.range(10000).selectExpr("id", "id % 13 AS g")
      .repartition(20).write.parquet(dir)
    val before = spark.read.parquet(dir).orderBy("id").collect()

    val res = Maintenance.compact(spark, dir,
      targetFileBytes = 1L << 30, sortBy = Seq("id"))
    assert(res.filesBefore === 20 && res.filesAfter === 1)

    val after = spark.read.parquet(dir).orderBy("id").collect()
    assert(after.toSeq === before.toSeq)
    // sorted write → the single file's min/max covers exactly the range
    val parts = SystemParts.parts(spark, dir, Seq("id")).collect()
    assert(parts.head.getAs[Map[String, String]]("min_values")("id").toLong === 0L)
    assert(parts.head.getAs[Map[String, String]]("max_values")("id").toLong === 9999L)
  }

  test("OPTIMIZE DEDUPLICATE: full-row duplicates collapse during the rewrite") {
    import graft.sources.Maintenance
    val dir = tempDir("dedup-opt").toString + "/t"
    val base = spark.range(500).selectExpr("id", "id % 7 AS g")
    base.union(base.limit(100)).repartition(6).write.parquet(dir)
    assert(spark.read.parquet(dir).count() === 600)
    val res = Maintenance.compact(spark, dir, deduplicate = true)
    assert(res.filesBefore === 6 && res.filesAfter === 1)
    assert(spark.read.parquet(dir).count() === 500)
    assert(spark.read.parquet(dir).distinct().count() === 500)
  }

  test("TTL DELETE: expired rows dropped atomically, NULL TTL keeps") {
    import graft.sources.Maintenance
    val dir = tempDir("ttl").toString + "/t"
    spark.range(1000)
      .selectExpr("id", "IF(id % 10 = 0, NULL, id % 100) AS age")
      .repartition(4).write.parquet(dir)
    // expire age > 50; NULL age (100 rows) must survive
    val res = Maintenance.applyTtl(spark, dir, col("age") > 50)
    assert(res.rowsBefore === 1000)
    val kept = spark.read.parquet(dir)
    assert(kept.count() === 1000 - res.rowsExpired)
    assert(kept.filter(col("age") > 50).count() === 0)
    assert(kept.filter(col("age").isNull).count() === 100)
  }

  test("getObject fetches real local files; off-provider schemes rejected") {
    import graft.multimodal.Connections
    val f = tempDir("obj").resolve("obj.bin")
    java.nio.file.Files.write(f, "real-bytes".getBytes("UTF-8"))
    Connections.create("local", "FS")
    try {
      val got = Seq(s"file://$f").toDF("url")
        .select(Connections.getObject(spark, "local")(col("url")).as("o"))
        .head().getAs[Array[Byte]](0)
      assert(new String(got, "UTF-8") === "real-bytes")
      // an FS connection may not reach out to cloud/http schemes
      val ex = intercept[Exception] {
        Seq("s3://bucket/k").toDF("url")
          .select(Connections.getObject(spark, "local")(col("url")).as("o"))
          .head()
      }
      assert(ex.getMessage != null)
    } finally Connections.drop("local")
  }

  test("system.parts on a real testdata table") {
    import graft.sources.SystemParts
    val parts = SystemParts.parts(spark, s"$sfDir/lineitem.parquet",
      statCols = Seq("l_orderkey"))
    val total = parts.agg(org.apache.spark.sql.functions.sum("rows")).head().getLong(0)
    val actual = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(total === actual)
  }

  test("url(...) TVF: fetch + format parse (TableFunctionURL.cpp)") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data.csv", (ex: HttpExchange) => {
      val body = "a,b\n1,x\n2,y\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/rows.json", (ex: HttpExchange) => {
      val body = "{\"k\":1,\"v\":\"p\"}\n{\"k\":2,\"v\":\"q\"}\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val csv = TableFunctions.url(spark, s"$base/data.csv", "CSVWithNames")
      assert(csv.columns.toSeq === Seq("a", "b"))
      assert(csv.count() === 2)
      val json = TableFunctions.url(spark, s"$base/rows.json", "JSONEachRow")
      assert(json.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
        === Set((1L, "p"), (2L, "q")))
      // binary formats route through parseBytes (ADVICE r13: a UTF-8
      // decode corrupted Native payloads before dispatch)
      val src = Seq((5L, "né"), (6L, "m")).toDF("k", "v")
      val nativeBytes = graft.sources.OutputFormats.writeBytes(src, "Native")
      server.createContext("/blk.native", (ex: HttpExchange) => {
        ex.sendResponseHeaders(200, nativeBytes.length.toLong)
        ex.getResponseBody.write(nativeBytes); ex.close()
      })
      val nat = TableFunctions.url(spark, s"$base/blk.native", "Native")
      assert(nat.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        === Set((5L, "né"), (6L, "m")))
    } finally server.stop(0)
  }

  test("s3(...) TVF: fetch through a CONNECTION + format parse (TableFunctionS3.cpp)") {
    import graft.multimodal.Connections
    val dir = tempDir("tvf-s3").toFile
    val f = new java.io.File(dir, "t.tsv")
    java.nio.file.Files.writeString(f.toPath, "c1\tc2\n7\tzz\n")
    Connections.create("tvfs3", "fs", "file://" + dir.getAbsolutePath)
    try {
      val df = TableFunctions.s3(spark, "tvfs3",
        "file://" + f.getAbsolutePath, "TSVWithNames")
      assert(df.columns.toSeq === Seq("c1", "c2"))
      assert(df.head().getInt(0) === 7 || df.head().getLong(0) === 7L)
    } finally Connections.drop("tvfs3")
  }

  test("fileWrite: the INSERT INTO FUNCTION file(...) shape round-trips") {
    val dir = tempDir("tf-filewrite")
    val d = spark.range(0, 5).selectExpr("id AS x", "id % 3 AS y",
      "'Hello' AS z")
    // single-file SQLInsert -> MySQLDump (the 02322 flow)
    val sqlPath = dir.resolve("d.sql").toString
    TableFunctions.fileWrite(d, sqlPath, "SQLInsert")
    val back = TableFunctions.file(spark, sqlPath, "MySQLDump")
    assert(back.count() === 5 && back.columns.toSeq === Seq("x", "y", "z"))
    // distributed TSKV directory
    val tskvDir = dir.resolve("tskvdir").toString
    TableFunctions.fileWrite(d, tskvDir, "TSKV")
    val lines = spark.read.textFile(tskvDir).collect()
    assert(lines.length === 5 && lines.forall(_.startsWith("x=")))
  }

  test("input(...) TVF: INSERT-payload transform against a declared structure") {
    val d = TableFunctions.input(spark, "x UInt32, y String", "1\ta\n2\tb\n")
    assert(d.columns.toSeq === Seq("x", "y"))
    assert(d.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }
}
