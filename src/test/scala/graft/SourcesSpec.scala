package graft

import java.nio.charset.Charset
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.{Sources, Tables}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv reader honors the reference dialect: ';' separator + latin1") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("d.csv")
    // latin1 bytes, ';'-separated — the reference's datatran dialect
    Files.write(f, "id;municipio\n1;São Paulo\n2;Brasília\n"
      .getBytes(Charset.forName("ISO-8859-1")))
    val df = Sources.csv(spark, f.toString, sep = ";", encoding = "ISO-8859-1")
    assert(df.columns.toSeq == Seq("id", "municipio"))
    assert(df.orderBy("id").select("municipio").as[String].collect().toSeq
      == Seq("São Paulo", "Brasília"))
  }

  test("csv schema discipline: strings by default, typed only via schema or opt-in") {
    val dir = Files.createTempDirectory("graft_csv_schema")
    val f = dir.resolve("d.csv")
    Files.write(f, "id,v\n1,2.5\n2,3.5\n".getBytes("UTF-8"))
    // default: no inference pass — columns are strings (no silent double-read)
    val plain = Sources.csv(spark, f.toString)
    assert(plain.schema.fields.forall(_.dataType.typeName == "string"))
    // explicit opt-in to the inference scan
    val inferred = Sources.csv(spark, f.toString, inferSchema = true)
    assert(inferred.schema("id").dataType.typeName == "integer")
    assert(inferred.schema("v").dataType.typeName == "double")
    // explicit schema: typed with zero extra scans
    val typed = Sources.csv(spark, f.toString,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL("id LONG, v DOUBLE")))
    assert(typed.schema("id").dataType.typeName == "long")
    assert(typed.as[(Long, Double)].collect().sorted.toSeq == Seq((1L, 2.5), (2L, 3.5)))
  }

  test("table catalog reads every sf table; events ts is a usable timestamp") {
    val t = Tables(spark, sf0001)
    val all = Seq(t.region, t.nation, t.customer, t.supplier, t.part,
      t.orders, t.lineitem, t.events, t.documents, t.embeddings)
    all.foreach(df => assert(df.columns.nonEmpty))
    val hours = t.events.select(hour(col("ts"))).distinct().count()
    assert(hours > 1) // nanos were converted, not left as raw longs
  }

  test("partitioned parquet round-trips with partition pruning") {
    val dir = Files.createTempDirectory("graft_pq").resolve("t").toString
    val df = Seq((1, "a", 2020), (2, "b", 2020), (3, "c", 2021)).toDF("id", "v", "year")
    df.write.partitionBy("year").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    val pruned = back.filter(col("year") === 2021)
    assert(pruned.count() == 1)
    // partition pruning: only the year=2021 directory is scanned
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("year=2020") || scan.contains("PartitionFilters"))
  }

  test("orc round-trips with partitioning and predicate pushdown") {
    val dir = Files.createTempDirectory("graft_orc").resolve("t").toString
    val df = Seq((1, "a", 2020), (2, "b", 2020), (3, "c", 2021)).toDF("id", "v", "year")
    Sources.writeOrc(df, dir, partitionCols = Seq("year"))
    val back = Sources.orc(spark, dir)
    assert(back.count() == 3)
    assert(back.filter(col("year") === 2021).select("id").as[Int].collect().toSeq == Seq(3))
    // the same pushdown contract as parquet: the id predicate reaches
    // the ORC scan instead of filtering post-read
    val plan = back.filter(col("id") === 2).queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
  }

  test("xml round-trips through Spark 4's built-in source; explicit schema skips inference") {
    val dir = Files.createTempDirectory("graft_xml").resolve("t").toString
    val df = Seq((1L, "a", 2.5), (2L, "b", -1.0), (3L, "ç & <tag>", 0.0))
      .toDF("id", "name", "score")
    Sources.writeXml(df, dir, rowTag = "rec")
    val back = Sources.xml(spark, dir, rowTag = "rec")
      .select("id", "name", "score").orderBy("id")
    // inference types the columns; values (including escaped markup)
    // survive the round-trip
    assert(back.as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 2.5), (2L, "b", -1.0), (3L, "ç & <tag>", 0.0)))
    val typed = Sources.xml(spark, dir, rowTag = "rec",
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "id LONG, name STRING, score DOUBLE")))
    assert(typed.schema.fieldNames.toSet == Set("id", "name", "score"))
    assert(typed.count() == 3)
  }

  test("binaryFiles reads raw assets as binary rows with glob + size pruning") {
    val dir = Files.createTempDirectory("graft_bin")
    Files.write(dir.resolve("a.jpg"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.jpg"), Array.fill[Byte](64)(7))
    Files.write(dir.resolve("c.txt"), Array[Byte](9))
    val out = Sources.binaryFiles(spark, dir.toString,
        glob = Some("*.jpg"), maxBytes = 16)
      .select("path", "length", "content").collect()
    // the glob drops c.txt at listing time; the length filter drops the
    // 64-byte blob without materializing it
    assert(out.map(_.getAs[Long]("length")).toSeq == Seq(3L))
    assert(out.head.getAs[String]("path").endsWith("a.jpg"))
    assert(out.head.getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3))
    // the length guard is PUSHED to the source, not a post-read filter
    val plan = Sources.binaryFiles(spark, dir.toString, maxBytes = 16)
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(plan.contains("PushedFilters") && plan.contains("length"), plan)
  }

  test("csv write round-trips with the reference dialect") {
    val dir = Files.createTempDirectory("graft_csvw").resolve("out").toString
    Seq((1, "x;y"), (2, "plain")).toDF("id", "v")
      .write.option("sep", ";").option("header", "true").csv(dir)
    val back = Sources.csv(spark, dir, sep = ";")
    assert(back.count() == 2)
    assert(back.filter(col("v") === "x;y").count() == 1) // quoting survived the ';' payload
  }

  test("compact merges small files down to the byte target, preserving rows") {
    val dir = Files.createTempDirectory("graft_compact")
    val (src, dest) = (dir.resolve("src").toString, dir.resolve("dest").toString)
    spark.range(10000).toDF("id").repartition(20).write.parquet(src)
    val srcFiles = new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet"))
    assert(srcFiles == 20)
    Sources.compact(spark, src, dest, targetBytes = Long.MaxValue)
    val destFiles = new java.io.File(dest).listFiles().count(_.getName.endsWith(".parquet"))
    assert(destFiles == 1)
    val back = spark.read.parquet(dest)
    assert(back.count() == 10000)
    assert(back.agg(sum(col("id"))).head.getLong(0) == 49995000L)
  }

  test("jsonLines reads semi-structured records") {
    val dir = Files.createTempDirectory("graft_json")
    Files.write(dir.resolve("d.json"),
      "{\"k\": 1, \"tags\": [\"a\", \"b\"]}\n{\"k\": 2, \"tags\": []}\n".getBytes("UTF-8"))
    val df = Sources.jsonLines(spark, dir.toString)
    assert(df.columns.sorted.toSeq == Seq("k", "tags"))
    assert(df.agg(sum(size(col("tags")))).head.getLong(0) == 2L)
  }

  test("jdbc sink round-trips through embedded Derby with append semantics") {
    // Spark ships Derby for the Hive metastore, so the sink's actual
    // .save() path is testable end-to-end in-memory
    System.setProperty("derby.stream.error.file", "target/derby.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val derby = Some("org.apache.derby.jdbc.EmbeddedDriver")
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    Sources.jdbcWriter(df, url, "t_load", "app", "app", driver = derby).save()
    // the reference's warehouse load is append-only: a rerun adds rows
    Sources.jdbcWriter(df, url, "t_load", "app", "app", driver = derby).save()
    val back = Sources.jdbc(spark, url, "t_load", "app", "app", derby)
    assert(back.count() == 6)
    assert(back.select("v").distinct().as[String].collect().sorted.toSeq
      == Seq("a", "b", "c"))
    // partitioned read: stride ranges over the key column, parallel scans
    val ranged = Sources.jdbc(spark, url, "t_load", "app", "app", derby,
      extra = Map("partitionColumn" -> "id", "lowerBound" -> "1",
        "upperBound" -> "4", "numPartitions" -> "2"))
    assert(ranged.rdd.getNumPartitions == 2)
    assert(ranged.count() == 6) // range bounds stride, they don't filter
  }

  test("multimodal resize fits the longest edge and preserves aspect") {
    val feats = Seq((1L, 2048, 1024), (2L, 100, 50)).toDF("doc_id", "width", "height")
    val out = Multimodal.resizeMeta(feats, maxEdge = 512).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("out_width") == 512 && out(0).getAs[Int]("out_height") == 256)
    assert(out(0).getAs[Boolean]("resized"))
    assert(out(1).getAs[Int]("out_width") == 100 && !out(1).getAs[Boolean]("resized"))
  }

  test("multimodal frame sampling emits every stride-th fixed-size chunk") {
    val media = Seq((1L, Array.tabulate[Byte](100)(_.toByte))).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(media, "doc_id", "payload",
        frameBytes = 10, stride = 3)
      .orderBy("frame_idx").collect()
    assert(frames.length == 4) // chunks 0,3,6,9 of the 10 full chunks
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 10))
    assert(frames.head.getAs[Array[Byte]]("frame").head == 0.toByte)
  }

  test("csvQuarantine splits parseable rows from malformed ones, keeping the raw line") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv_q")
    val f = dir.resolve("feed.csv")
    Files.write(f,
      ("1,alpha,10.5\n" +
        "2,beta,oops\n" +        // bad double
        "3,gamma,7.25\n" +
        "4,delta\n"              // wrong arity
        ).getBytes(Charset.forName("UTF-8")))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", DoubleType)))
    val q = Sources.csvQuarantine(spark, f.toString, schema)
    try {
      val g = q.good.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(g == Set((1L, "alpha", 10.5), (3L, "gamma", 7.25)))
      val b = q.quarantined.collect().map(_.getString(0)).toSet
      assert(b == Set("2,beta,oops", "4,delta"))
    } finally q.release()
  }

  test("csvQuarantine decodes latin1 in good rows and in the quarantined raw line") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv_q1")
    val f = dir.resolve("feed.csv")
    // the reference feed's dialect: ';'-separated latin1 with a header
    Files.write(f,
      ("id;municipio;valor\n" +
        "1;São Paulo;10.5\n" +
        "2;Brasília;oops\n" +   // bad double
        "3;Goiânia;7.25\n"
        ).getBytes(Charset.forName("ISO-8859-1")))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("municipio", StringType),
      StructField("valor", DoubleType)))
    val q = Sources.csvQuarantine(spark, f.toString, schema, sep = ";",
      encoding = "ISO-8859-1", header = true)
    try {
      val g = q.good.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(g == Set((1L, "São Paulo", 10.5), (3L, "Goiânia", 7.25)))
      assert(q.quarantined.collect().map(_.getString(0)).toSeq == Seq("2;Brasília;oops"))
    } finally q.release()
  }

  test("multimodal decode keeps ids, is deterministic, and sizes match payloads") {
    val docs = Tables(spark, sf0001).documents.limit(50)
    val payloads = Multimodal.attachPayload(docs, "text", "doc_id")
    assert(payloads.schema("media_meta").dataType.typeName == "struct")
    val feats = Multimodal.decodeFeatures(spark, payloads, "payload", "doc_id")
    val joined = feats.toDF().join(docs, "doc_id")
      .filter(col("bytes") =!= octet_length(col("text")).cast("long"))
    assert(joined.count() == 0)
    val twice = Multimodal.decodeFeatures(spark, payloads, "payload", "doc_id")
    assert(feats.collect().toSet == twice.collect().toSet)
  }
}
