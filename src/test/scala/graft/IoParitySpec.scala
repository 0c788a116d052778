package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.TableCatalog
import graft.io.{Load, Manifest, Store, TypeVocabulary}
import graft.udf.{DerivedColumn, PmmlSerializer}

/** Reference-parity surface: manifest-driven load of headerless CSV
  * dirs, skip-list, part-file row-union (the reference's intended
  * semantics, not its bug), store+metadata round-trip, PMML emission. */
class IoParitySpec extends AnyFunSuite {
  import SparkTestSession._

  private def mkTableDir(): Path = {
    val dir = Files.createTempDirectory("diagnostic_data")
    Files.writeString(dir.resolve("part-00000.csv"), "1,ab,3.5\n2,cd,4.5\n")
    Files.writeString(dir.resolve("part-00001.csv"), "3,ef,5.5\n")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve("pmml"), "<PMML/>")
    Files.writeString(dir.resolve("pmml.xml"), "<PMML/>")
    dir
  }

  test("S1-S4: skip-list honored, all parts row-unioned, schema external") {
    val dir = mkTableDir()
    val parts = Load.listPartFiles(spark, dir.toString)
    assert(parts.length === 2) // _SUCCESS, pmml, pmml.xml skipped
    val df = Load.csvDir(spark, dir.toString,
      Seq("id", "name", "score"), Seq("long", "String", "double"))
    assert(df.columns.toSeq === Seq("id", "name", "score"))
    assert(df.count() === 3) // intended union semantics: every part's rows
    assert(df.schema("score").dataType.typeName === "double")
    val ids = df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }

  test("S5: manifest JSON loads and registers catalog tables") {
    val dir = mkTableDir()
    val manifest =
      s"""{"ResponseData": {"TableList": [{
         |  "TABLE_NAME": "DiagnosticData",
         |  "DataLocation": "${dir.toString}",
         |  "ColumnList": [{"MappedAliasName": "id"},
         |                 {"MappedAliasName": "name"},
         |                 {"MappedAliasName": "score"}],
         |  "ColumnTypeList": ["long", "String", "double"]
         |}]}}""".stripMargin
    val cat = new TableCatalog(spark).loadManifest(manifest)
    assert(cat.names === Seq("DiagnosticData"))
    assert(cat("DiagnosticData").count() === 3)
    // temp view registered → SQL-addressable
    assert(spark.sql("SELECT sum(score) s FROM DiagnosticData")
      .collect().head.getDouble(0) === 13.5)
  }

  test("S7: latest completed upstream output, split locations, unescaping") {
    val dir = mkTableDir()
    val result = Manifest.escapeQuotes(
      s"""{"DataLocation": "${dir.toString}", "MetaData": "id,name,score", "MetaDataType": "long,String,double"}""")
    val status =
      s"""{"JobsStatus": [
         | {"Status": 2, "JobNodeID": "n1", "Result": "old-ignored"},
         | {"Status": 3, "JobNodeID": "n1", "Result": "failed-ignored"},
         | {"Status": 2, "JobNodeID": "n2", "Result": "other-node"},
         | {"Status": 2, "JobNodeID": "n1",
         |  "Result": "${result.replace("\"", "\\\"")}"}
         |]}""".stripMargin
    val out = Manifest.latestOutput(status, "n1", "Upstream")
    assert(out.isDefined)
    assert(out.get.locations === Seq(dir.toString))
    val cat = new TableCatalog(spark).loadUpstream(out.get)
    assert(cat.names === Seq("Upstream_1"))
    assert(cat("Upstream_1").count() === 3)
  }

  test("S9/S10 round-trip: write CSV + sidecar, reload via sidecar") {
    val base = Files.createTempDirectory("store").toString
    val df = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val meta = Store.writeCsvWithMeta(df, base)
    assert(meta.MetaData === "c_custkey,c_name,c_acctbal")
    assert(meta.MetaDataType === "long,String,double")
    val back = Load.csvDirWithMeta(spark, meta.DataLocation,
      meta.MetaData, meta.MetaDataType)
    assert(back.count() === df.count())
    val s1 = back.agg(sum(col("c_acctbal").cast("decimal(18,2)")))
      .collect().head.getDecimal(0)
    val s2 = df.agg(sum(col("c_acctbal").cast("decimal(18,2)")))
      .collect().head.getDecimal(0)
    assert(s1 === s2)
    // escaping round-trip (F2 parity)
    val escaped = meta.toEscapedJson
    assert(!escaped.contains("\""))
    assert(Manifest.unescapeQuotes(escaped) === meta.toJson)
  }

  test("S6: experiment-graph JSON yields the devs.Model node registry") {
    val graph =
      """{"cells": [
        | {"type": "devs.Model", "id": "n1", "NodeCaption": "LoadCsv"},
        | {"type": "devs.Link", "id": "e1"},
        | {"type": "devs.Model", "id": "n2", "NodeCaption": "Transform"}
        |]}""".stripMargin
    val nodes = Manifest.parseGraph(graph)
    assert(nodes === Map("n1" -> "LoadCsv", "n2" -> "Transform"))
  }

  test("F8: Action XML XPath extraction") {
    val xml =
      """<Action>
        |  <Properties><UUID>u-123</UUID><ExperimentId>e-9</ExperimentId>
        |  <NodeId>n-4</NodeId><ServiceUrl>http://cp/api</ServiceUrl>
        |  </Properties>
        |</Action>""".stripMargin
    val info = Manifest.parseActionXml(xml)
    assert(info === Manifest.ActionInfo("u-123", "e-9", "n-4", "http://cp/api"))
  }

  test("GraftExtensions: SQL functions resolve via spark.sql.extensions") {
    // SparkTestSession is built with
    // .config("spark.sql.extensions", "graft.GraftExtensions"), so these
    // resolve with NO imperative registration call:
    val one = spark.sql(
      "SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .collect().head.getDouble(0)
    assert(one === 11.0)
    val rh = spark.sql("SELECT rolling_min_hash('hello world, hello graft') h")
      .collect().head.getLong(0)
    assert(rh === graft.functions.TextHash.rollingMin(
      "hello world, hello graft".getBytes("UTF-8")))
    assert(spark.sql("SELECT simhash64(array('a','b')) s")
      .collect().head.getLong(0) !== 0L)
    // every row of the one function table evaluates on a new session,
    // which holds no temp function from an earlier register call
    val fresh = spark.newSession()
    val sketch = "count_min_sketch('a', 0.01D, 0.99D, 1)"
    val samples = Map(
      "vec_dot" -> "vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))",
      "vec_scale" -> "vec_scale(array(2.0F), 2.0D)",
      "vec_absmax" -> "vec_absmax(array(-3.0F, 2.0F))",
      "vec_quant" -> "vec_quant(array(1.5F), 2.0D)",
      "rolling_min_hash" -> "rolling_min_hash('hello world, hello graft')",
      "rolling_hashes" -> "rolling_hashes('hello world, hello graft')",
      "minhash_sig" -> "minhash_sig(array('a b c', 'b c d'))",
      "simhash64" -> "simhash64(array('a', 'b'))",
      "word_shingles3" -> "word_shingles3('a b c d')",
      "word_shingles2" -> "word_shingles2('a b c')",
      "count_in_set" -> "count_in_set(array('a', 'b', 'a'), 'a,c')",
      "cms_estimate" -> s"cms_estimate($sketch, 'a')",
      "cms_merge" ->
        s"cms_estimate(cms_merge(s), 'a') FROM (SELECT $sketch AS s)")
    assert(samples.keySet ===
      graft.functions.VectorExpressions.functions.map(_.name).toSet)
    samples.foreach { case (name, call) =>
      val row = fresh.sql(s"SELECT $call").collect().head
      withClue(s"$name: ") { assert(!row.isNullAt(0)) }
    }
  }

  test("format matrix: json and orc round-trip the customer table") {
    val df = Tables(spark, sf, "customer")
    val base = java.nio.file.Files.createTempDirectory("formats").toString
    for (fmt <- Seq("json", "orc", "parquet", "csv")) {
      df.write.format(fmt).option("header", "true")
        .mode("overwrite").save(s"$base/$fmt")
      val back = spark.read.format(fmt)
        .option("header", "true").option("inferSchema", "true")
        .load(s"$base/$fmt")
      assert(back.count() === df.count(), fmt)
      val s1 = back.agg(sum(col("c_acctbal").cast("decimal(18,2)")))
        .collect().head.getDecimal(0)
      val s2 = df.agg(sum(col("c_acctbal").cast("decimal(18,2)")))
        .collect().head.getDecimal(0)
      assert(s1 === s2, fmt)
    }
  }

  test("salted join is row-identical to the plain join") {
    val fact = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val dim = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val plain = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    val salted = graft.ops.Skew
      .saltedEquiJoin(fact, dim, col("l_orderkey"), col("o_orderkey"), 4)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("GraftConfig: explicit arg > env > default; hdfs prefix resolution") {
    // defaults (no env, no args)
    val dflt = GraftConfig.resolve(env = Map.empty)
    assert(dflt === GraftConfig("localhost", "9000", "50070", "hduser"))
    // env beats default
    val env = Map(
      GraftConfig.EnvHost -> "envhost", GraftConfig.EnvHdfsPort -> "8020",
      GraftConfig.EnvWebHdfsPort -> "9870", GraftConfig.EnvUser -> "envuser")
    assert(GraftConfig.resolve(env = env) ===
      GraftConfig("envhost", "8020", "9870", "envuser"))
    // explicit beats env
    val cfg = GraftConfig.resolve(hadoopHost = Some("arghost"),
      hdfsUser = Some("arguser"), env = env)
    assert(cfg === GraftConfig("arghost", "8020", "9870", "arguser"))
    // URI construction mirrors the reference's client/hdfspath
    // (R/DataFrameOperationR.R:27-28)
    assert(cfg.hdfsUri === "hdfs://arghost:8020")
    assert(cfg.webHdfsUri === "http://arghost:9870/webhdfs/v1")
    // path normalization: own authority stripped, others untouched
    assert(cfg.resolvePath("hdfs://arghost:8020/data/t1") === "/data/t1")
    assert(cfg.resolvePath("hdfs://other:8020/data/t1") ===
      "hdfs://other:8020/data/t1")
    assert(cfg.resolvePath("/local/path") === "/local/path")
    // boundary cases: a longer authority that merely starts with this
    // one's text must pass through, and the bare URI maps to the root
    assert(cfg.resolvePath("hdfs://arghost:80201/x") ===
      "hdfs://arghost:80201/x")
    assert(cfg.resolvePath("hdfs://arghost:8020") === "/")
  }

  test("writeCsvWithMeta: sidecar keeps one consistent authority, write resolves") {
    // a fully-qualified baseDir must not yield a mixed-authority sidecar
    // (data stripped, model/pmml still qualified) — the reference
    // derives all three locations from one identical prefix
    // (R/DataFrameOperationR.R:291-293). The sidecar echoes the
    // caller's qualified form; the actual write resolves through the
    // session filesystem (authority stripped).
    val base = java.nio.file.Files
      .createTempDirectory("graft_store_auth").toString
    val cfg = GraftConfig(hadoopHost = "nn", hdfsPort = "8020")
    val qualified = s"hdfs://nn:8020$base"
    val meta = Store.writeCsvWithMeta(
      Tables(spark, sf, "region").select("r_regionkey", "r_name"),
      qualified, cfg)
    // all three share the caller's qualified prefix — no mixed authority
    assert(meta.DataLocation.startsWith(s"$qualified/"))
    assert(meta.ModelLocation.startsWith(s"$qualified/"))
    assert(meta.PMMLLocation.startsWith(s"$qualified/"))
    assert(meta.DataLocation === s"${meta.ModelLocation}/model")
    assert(meta.PMMLLocation === s"${meta.ModelLocation}/pmml")
    // the data really landed at the session-resolved path, and the
    // sidecar round-trips to it through the same resolver readers use
    val resolvedData = cfg.resolvePath(meta.DataLocation)
    assert(resolvedData.startsWith(s"$base/"))
    assert(new java.io.File(resolvedData).listFiles()
      .exists(_.getName.startsWith("part-")))
  }

  test("GraftConfig threads through Load: fully-qualified manifest location resolves") {
    // a manifest written with the cluster's full hdfs:// authority must
    // load through the session's default FS once the prefix is stripped
    // (the reference's gsub(hdfspath,'',path), R/DataFrameOperationR.R:29)
    val dir = mkTableDir()
    val cfg = GraftConfig(hadoopHost = "nn", hdfsPort = "8020")
    val qualified = s"hdfs://nn:8020$dir"
    val df = Load.csvDir(spark, qualified,
      Seq("id", "name", "score"), Seq("long", "String", "double"), cfg)
    assert(df.count() === 3)
  }

  test("type vocabulary is total over its own inverse") {
    val names = Seq("String", "float", "double", "integer", "long",
      "boolean", "timestamp", "date")
    names.foreach { n =>
      assert(TypeVocabulary.nameOf(TypeVocabulary(n)).equalsIgnoreCase(n))
    }
  }

  test("P7 + PMML: derived column applies engine-side; PMML well-formed with one FieldRef per column") {
    val dc = DerivedColumn(
      outputName = "score_scaled", outputTypeName = "float",
      inputColumns = Seq("c_acctbal", "c_custkey"),
      script = "out = acctbal / (key + 1)",
      expression = Some(cols => cols.head / (cols(1) + 1)))
    val df = dc(Tables(spark, sf, "customer"))
    assert(df.schema("score_scaled").dataType.typeName === "float")
    assert(df.filter(col("score_scaled").isNotNull).count() > 0)

    val pmml = PmmlSerializer.serialize(dc, Seq("double", "long"),
      timestamp = java.time.Instant.EPOCH)
    val xml = scala.xml.XML.loadString(pmml) // parses ⇒ well-formed
    val refs = (xml \\ "FieldRef").map(_ \@ "field")
    assert(refs === Seq("c_acctbal", "c_custkey")) // reference bug fixed
    assert((xml \\ "DerivedField").head \@ "name" === "score_scaled")
    assert((xml \\ "Extension").head.text.contains("acctbal / (key + 1)"))
    assert((xml \\ "DataField").length === 2)

    // DefineFunction calling-convention parity with the reference
    // (CreateDerivedFunction, R/DataFrameOperationR.R:474-520): the
    // packed `params` ParameterField and the Discretize-carried
    // argument-passing contract, attribute values verbatim
    val defFn = (xml \\ "DefineFunction").head
    val param = (defFn \ "ParameterField").head
    assert(param \@ "name" === "params")
    assert(param \@ "optype" === "continuous")
    assert(param \@ "dataType" === "float")
    val disc = (defFn \ "Discretize").head
    assert(disc \@ "field" === "params")
    assert(disc \@ "defaultValue" === "args,argTypes,argValues")
    val bins = (disc \ "DiscretizeBin").map(_ \@ "binValue")
    assert(bins === Seq("df,script,outparam", "string,PythonCode,string"))
    (disc \ "DiscretizeBin").foreach { b =>
      assert((b \ "Interval").head \@ "closure" === "openClosed")
    }
  }

  test("binaryFile source: blob ingestion with pathGlobFilter") {
    // the production ingestion path for multimodal blobs: Spark's
    // binaryFile source enumerates an object-store dir, filters by
    // glob, and yields (path, modificationTime, length, content) —
    // the real-world feed for llm.Multimodal's decode plumbing
    val dir = Files.createTempDirectory("blobs")
    Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("b.img"), Array[Byte](5, 6))
    Files.writeString(dir.resolve("ignore.txt"), "not a blob")
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img")
      .load(dir.toString)
      .select(col("path"), col("length"), col("content"))
      .collect()
    assert(blobs.length === 2)
    val byName = blobs.map(r => r.getAs[String]("path").split('/').last ->
      r.getAs[Array[Byte]]("content")).toMap
    assert(byName("a.img").sameElements(Array[Byte](1, 2, 3, 4)))
    assert(byName("b.img").sameElements(Array[Byte](5, 6)))
    assert(blobs.map(_.getAs[Long]("length")).sorted.sameElements(Array(2L, 4L)))
  }

  test("S12: status reporter records completion and failure codes") {
    val rep = new Store.InMemoryReporter
    rep.report(Store.JobStatus("application_x", "n1", Store.StatusCompleted,
      "/out/a", "ok"))
    rep.report(Store.JobStatus("application_y", "n2", Store.StatusFailed,
      "", "boom"))
    assert(rep.all.map(_.status) === Seq(2, 3))
    assert(rep.all.head.jobId.startsWith("application_"))
  }
}
