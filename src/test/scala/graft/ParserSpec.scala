package graft

import graft.model.{Headers => H}
import graft.operators.Parsers
import graft.plans.Analyzer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Port of the reference per-parser tests (StreamsDeadLetterParserTest /
  * NativeStreamsDeadLetterParserTest / ConnectDeadLetterParserTest): happy
  * paths, optional/null headers, exact error messages. */
class ParserSpec extends SparkSpec {
  import Fixtures._

  private def parseOne(row: Row): Row = {
    val p = Analyzer.parsed(envelopeDf(Seq(row)))
    p.select(col("branch"), col("parsed.error"), col("parsed.dead_letter.*")).head()
  }

  private val streamsHappy = Seq(
    h(H.Partition, "1"), h(H.Topic, "my-topic"), h(H.Offset, "10"),
    h(H.Description, "description"),
    h(H.ExceptionClassName, "org.apache.kafka.connect.errors.DataException"),
    h(H.ExceptionMessage, "my message"), h(H.ExceptionStackTrace, StackTrace))

  test("streams-header parser happy path") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", streamsHappy))
    assert(r.getString(0) == "streams_headers")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "value") // input_value
    assert(r.getInt(3) == 1) // partition
    assert(r.getString(4) == "my-topic")
    assert(r.getLong(5) == 10L)
    assert(r.getString(6) == "description")
    val cause = r.getStruct(7)
    assert(cause.getString(0) == "org.apache.kafka.connect.errors.DataException")
    assert(cause.getString(1) == "my message")
    assert(cause.getString(2) == StackTrace)
  }

  test("streams-header parser: missing required header") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy.filterNot(_.getString(0) == H.Topic)))
    assert(r.getString(1) == s"Missing required header ${H.Topic}")
  }

  test("streams-header parser: null int header value") {
    val hs = h(H.Partition, null) +: streamsHappy.filterNot(_.getString(0) == H.Partition)
    // lastHeader wins: put the null occurrence LAST
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy.filterNot(_.getString(0) == H.Partition) :+ h(H.Partition, null)))
    assert(r.getString(1) == "Cannot parse int from null")
  }

  test("streams-header parser: faulty legacy offset header accepted") {
    val hs = streamsHappy.map(r =>
      if (r.getString(0) == H.Offset) h(H.FaultyOffset, "10") else r)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.isNullAt(1))
    assert(r.getLong(5) == 10L)
  }

  test("streams-header parser: real offset wins over faulty when both present") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy :+ h(H.FaultyOffset, "99")))
    assert(r.getLong(5) == 10L)
  }

  test("streams-header parser: message header present with null value") {
    val hs = streamsHappy.map(r =>
      if (r.getString(0) == H.ExceptionMessage) h(H.ExceptionMessage, null) else r)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.isNullAt(1))
    assert(r.getStruct(7).isNullAt(1)) // cause.message null
  }

  test("streams-header parser: duplicate header -> last value wins") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value",
      streamsHappy :+ h(H.Partition, "7")))
    assert(r.getInt(3) == 7)
  }

  private val nativeHappy = Seq(
    h(H.NativePartitionName, "1"), h(H.NativeTopicName, "my-topic"),
    h(H.NativeOffsetName, "10"), h(H.NativeProcessorNodeIdName, "processor"),
    h(H.NativeTaskIdName, "task"),
    h(H.NativeExceptionName, "org.apache.kafka.connect.errors.DataException"),
    h(H.NativeExceptionMessageName, "my message"),
    h(H.NativeStacktraceName, StackTrace))

  test("native-streams parser happy path: synthesized description") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", nativeHappy))
    assert(r.isNullAt(1))
    assert(r.getString(6) == "Error in processor node processor in task task")
  }

  test("native-streams parser: [unknown] defaults") {
    val hs = nativeHappy.filterNot(r =>
      r.getString(0) == H.NativeProcessorNodeIdName || r.getString(0) == H.NativeTaskIdName)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.getString(6) == "Error in processor node [unknown] in task [unknown]")
  }

  private val connectHappy = Seq(
    h(H.ConnectOrigPartition, "1"), h(H.ConnectOrigTopic, "my-topic"),
    h(H.ConnectOrigOffset, "10"), h(H.ConnectStage, "VALUE_CONVERTER"),
    h(H.ConnectExecutingClass, "org.apache.kafka.connect.json.JsonConverter"),
    h(H.ConnectException, "org.apache.kafka.connect.errors.DataException"),
    h(H.ConnectTaskId, "2"), h(H.ConnectConnectorName, "my-connector"),
    h(H.ConnectExceptionMessage, "my message"),
    h(H.ConnectExceptionStackTrace, StackTrace))

  test("connect parser happy path: templated description") {
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", connectHappy))
    assert(r.isNullAt(1))
    assert(r.getString(6) ==
      "Error in stage VALUE_CONVERTER (org.apache.kafka.connect.json.JsonConverter) in my-connector[2]")
  }

  test("connect parser: optional originals absent -> nulls, still parses") {
    val hs = connectHappy.filterNot(r => r.getString(0).startsWith(H.ConnectPrefix) &&
      Set(H.ConnectOrigPartition, H.ConnectOrigTopic, H.ConnectOrigOffset)(r.getString(0)))
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.isNullAt(1))
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))
  }

  test("connect parser: unparseable task id") {
    val hs = connectHappy.map(r =>
      if (r.getString(0) == H.ConnectTaskId) h(H.ConnectTaskId, "NaN") else r)
    val r = parseOne(rec("t", 0, 0, 0, "key", "value", hs))
    assert(r.getString(1) == "For input string: \"NaN\"")
  }

  test("avro-value branch parses the JSON dead letter") {
    val r = parseOne(rec("t", 0, 0, 0, "key", deadLetterJson(StackTrace), Seq()))
    assert(r.getString(0) == "avro_value")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "foo")
    assert(r.getString(6) == "description")
    assert(r.getStruct(7).getString(2) == StackTrace)
  }

  test("record with both streams and connect headers parses once per branch") {
    val p = Analyzer.parsed(envelopeDf(Seq(
      rec("t", 0, 0, 0, "key", "value", streamsHappy ++ connectHappy))))
    val branches = p.select(col("branch")).collect().map(_.getString(0)).sorted
    assert(branches.sameElements(Array("connect_headers", "streams_headers")))
  }

  test("record matching no branch is dropped") {
    assert(Analyzer.parsed(envelopeDf(Seq(
      rec("t", 0, 0, 0, "key", "value", Seq(h("some-other-header", "x")))))).count() == 0)
  }

  test("binary (non-UTF8) value is hex-rendered as input_value") {
    val row = Row("t", 0, 0L, new java.sql.Timestamp(0),
      utf8("key"), Array[Byte](0, -1, -2), streamsHappy)
    val r = parseOne(row)
    assert(r.getString(2) == "00fffe")
  }

  // ---- Confluent wire-format Avro tier (reference BruteForceSerde tries
  // schema-registry Avro FIRST, DeadLetterAnalyzerTopology.java:102-105) ----

  private val deadLetterAvroSchema = """{"type":"record","name":"DeadLetter","fields":[
    {"name":"input_value","type":["null","string"],"default":null},
    {"name":"partition","type":["null","int"],"default":null},
    {"name":"topic","type":["null","string"],"default":null},
    {"name":"offset","type":["null","long"],"default":null},
    {"name":"description","type":"string"},
    {"name":"cause","type":{"type":"record","name":"ErrorDescription","fields":[
      {"name":"error_class","type":["null","string"],"default":null},
      {"name":"message","type":["null","string"],"default":null},
      {"name":"stack_trace","type":["null","string"],"default":null}]}},
    {"name":"input_timestamp","type":["null","long"],"default":null}]}"""

  private def confluentFrame(schemaJson: String, schemaId: Int,
      fill: org.apache.avro.generic.GenericData.Record => Unit): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val record = new org.apache.avro.generic.GenericData.Record(schema)
    fill(record)
    val baos = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get.binaryEncoder(baos, null)
    new org.apache.avro.generic.GenericDatumWriter[
      org.apache.avro.generic.GenericRecord](schema).write(record, enc)
    enc.flush()
    java.nio.ByteBuffer.allocate(5 + baos.size).put(0: Byte).putInt(schemaId)
      .put(baos.toByteArray).array
  }

  test("binary Avro dead letter decodes end-to-end through the Confluent tier") {
    val spark2 = spark
    import spark2.implicits._
    val framed = confluentFrame(deadLetterAvroSchema, 7, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      val cause = new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema())
      cause.put("error_class", "java.lang.RuntimeException")
      cause.put("message", "boom")
      cause.put("stack_trace", StackTrace)
      r.put("input_value", "foo"); r.put("partition", 3)
      r.put("topic", "orig-topic"); r.put("offset", 42L)
      r.put("description", "description"); r.put("cause", cause)
      r.put("input_timestamp", 200L)
    })
    val d = Seq(Tuple1(framed)).toDF("value")
      .select(graft.functions.BruteForce
        .decodedWithAvro(col("value"),
          graft.functions.StaticSchemas(Map(7 -> deadLetterAvroSchema))).as("d"))
      .select("d.*").head()
    assert(d.getAs[String]("kind") == "dead_letter")
    val dl = d.getAs[Row]("dead_letter")
    assert(dl.getAs[String]("input_value") == "foo")
    assert(dl.getAs[Int]("partition") == 3)
    assert(dl.getAs[String]("topic") == "orig-topic")
    assert(dl.getAs[Long]("offset") == 42L)
    assert(dl.getAs[String]("description") == "description")
    assert(dl.getAs[Row]("cause").getAs[String]("error_class")
      == "java.lang.RuntimeException")
    assert(dl.getAs[Row]("cause").getAs[String]("stack_trace") == StackTrace)
    assert(dl.getAs[java.sql.Timestamp]("input_timestamp").getTime == 200L)
  }

  test("framed Avro dead letter flows through the FULL topology via DecodeConfig") {
    implicit val dc: graft.functions.DecodeConfig =
      graft.functions.DecodeConfig(
        graft.functions.StaticSchemas(Map(7 -> deadLetterAvroSchema)))
    val framed = confluentFrame(deadLetterAvroSchema, 7, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      val cause = new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema())
      cause.put("error_class", "java.lang.RuntimeException")
      cause.put("message", "boom")
      cause.put("stack_trace", StackTrace)
      r.put("description", "description"); r.put("cause", cause)
      r.put("input_timestamp", 200L)
    })
    val row = Row("t", 0, 0L, new java.sql.Timestamp(0), utf8("key"), framed,
      Seq[Row]())
    // dispatch must route the BINARY Avro value down the avro_value branch
    // and classify from its stack trace — the registry-Avro-first tier of
    // the reference's BruteForceSerde, end to end
    val out = Analyzer.analyze(envelopeDf(Seq(row)))
    val all = out.all.head()
    assert(all.getAs[String]("type") == StackTraceType)
    assert(all.getAs[Row]("dead_letter").getAs[String]("description") == "description")
    assert(out.errors.count() == 0)
  }

  test("decode chain resolves ids through the SchemaProvider seam (registry drop-in)") {
    val spark2 = spark
    import spark2.implicits._
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    // a NON-static provider (what an HTTP registry client would be): resolves
    // two distinct ids, counts lookups on the driver side of the closure
    val lookups = new java.util.concurrent.atomic.AtomicInteger(0)
    val provider = new graft.functions.SchemaProvider {
      override def schemaFor(id: Int): Option[String] = {
        lookups.incrementAndGet()
        id match {
          case 7 => Some(deadLetterAvroSchema)
          case 9 => Some(trSchema)
          case _ => None
        }
      }
      override def isActive: Boolean = true
    }
    val dlFrame = confluentFrame(deadLetterAvroSchema, 7, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      r.put("description", "d")
      r.put("cause", new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema()))
    })
    val trFrame = confluentFrame(trSchema, 9, _.put("id", 5))
    val rows = Seq(Tuple1(dlFrame), Tuple1(trFrame), Tuple1(utf8("plain"))).toDF("value")
      .select(graft.functions.BruteForce
        .decodedWithAvro(col("value"), provider).as("d"))
      .select("d.*").collect()
    assert(rows(0).getAs[String]("kind") == "dead_letter")
    assert(rows(1).getAs[String]("kind") == "avro")
    assert(rows(1).getAs[String]("text").replaceAll("\\s", "") == """{"id":5}""")
    assert(rows(2).getAs[String]("kind") == "string")
  }

  test("live HTTP registry client resolves, memoizes, and falls through") {
    val spark2 = spark
    import spark2.implicits._
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    // in-process registry speaking the Confluent REST shape
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { ex =>
      val id = ex.getRequestURI.getPath.stripPrefix("/schemas/ids/")
      hits.merge(id, 1, (a, b) => a + b)
      val resp =
        if (id == "7")
          new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
            .put("schema", deadLetterAvroSchema).toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        else Array.emptyByteArray
      ex.sendResponseHeaders(if (id == "7") 200 else 404,
        if (resp.isEmpty) -1 else resp.length)
      if (resp.nonEmpty) ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val provider = graft.functions.HttpRegistrySchemas(base,
        fallback = graft.functions.StaticSchemas(Map(9 -> trSchema)))
      val dlFrame = confluentFrame(deadLetterAvroSchema, 7, { r =>
        val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
        r.put("description", "d")
        r.put("cause", new org.apache.avro.generic.GenericData.Record(
          schema.getField("cause").schema()))
      })
      val trFrame = confluentFrame(trSchema, 9, _.put("id", 5))
      val unknownFrame = confluentFrame(trSchema, 13, _.put("id", 6))
      // many rows in ONE action: the per-id lookup must be memoized per
      // executor, not re-queried per record
      val rows = (Seq.fill(50)(Tuple1(dlFrame)) ++
          Seq(Tuple1(trFrame), Tuple1(unknownFrame)))
        .toDF("value").coalesce(1)
        .select(graft.functions.BruteForce
          .decodedWithAvro(col("value"), provider).as("d"))
        .select("d.*").collect()
      assert(rows.take(50).forall(_.getAs[String]("kind") == "dead_letter"))
      // 404 for id 9 -> static fallback resolves it (registry-first chain)
      assert(rows(50).getAs[String]("kind") == "avro")
      assert(rows(50).getAs[String]("text").replaceAll("\\s", "") == """{"id":5}""")
      // 404 for id 13 and no fallback entry -> non-Avro fall-through
      assert(rows(51).getAs[String]("kind") != "dead_letter" &&
        rows(51).getAs[String]("kind") != "avro")
      assert(hits.get("7") != null && hits.get("7") <= 4,
        s"expected memoized lookups for id 7, saw ${hits.get("7")}")
    } finally server.stop(0)
  }

  test("registry client retries transient 5xx and then succeeds") {
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { ex =>
      val n = calls.incrementAndGet()
      if (n <= 2) { ex.sendResponseHeaders(503, -1); ex.close() }
      else {
        val resp = new com.fasterxml.jackson.databind.ObjectMapper()
          .createObjectNode().put("schema", trSchema).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.start()
    try {
      val p = graft.functions.HttpRegistrySchemas(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      assert(p.schemaFor(9).contains(trSchema)) // 503, 503, 200
      assert(calls.get() == 3)
    } finally server.stop(0)
  }

  test("registry client retries 429 throttling (honoring Retry-After) and then succeeds") {
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { ex =>
      val n = calls.incrementAndGet()
      if (n == 1) {
        // throttled must NOT resolve to a definitive miss (it would poison
        // the per-executor decode memo); client waits Retry-After and retries
        ex.getResponseHeaders.add("Retry-After", "0")
        ex.sendResponseHeaders(429, -1); ex.close()
      } else {
        val resp = new com.fasterxml.jackson.databind.ObjectMapper()
          .createObjectNode().put("schema", trSchema).toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp); ex.close()
      }
    })
    server.start()
    try {
      val p = graft.functions.HttpRegistrySchemas(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      assert(p.schemaFor(9).contains(trSchema)) // 429, 200
      assert(calls.get() == 2)
    } finally server.stop(0)
  }

  test("non-dead-letter Avro records render as their JSON toString (ErrorUtil parity)") {
    val spark2 = spark
    import spark2.implicits._
    val trSchema =
      """{"type":"record","name":"TestRecord","fields":[{"name":"id","type":"int"}]}"""
    val framed = confluentFrame(trSchema, 1, _.put("id", 1))
    val d = Seq(Tuple1(framed)).toDF("value")
      .select(graft.functions.BruteForce
        .decodedWithAvro(col("value"),
          graft.functions.StaticSchemas(Map(1 -> trSchema))).as("d"))
      .select("d.*").head()
    assert(d.getAs[String]("kind") == "avro")
    assert(d.getAs[String]("text").replaceAll("\\s", "") == """{"id":1}""")
    assert(d.isNullAt(d.fieldIndex("dead_letter")))
  }

  test("unknown schema id and unconfigured decode fall through the chain") {
    val spark2 = spark
    import spark2.implicits._
    val framed = confluentFrame(deadLetterAvroSchema, 99, { r =>
      val schema = new org.apache.avro.Schema.Parser().parse(deadLetterAvroSchema)
      r.put("description", "d")
      r.put("cause", new org.apache.avro.generic.GenericData.Record(
        schema.getField("cause").schema()))
    })
    // id 99 is not in the configured map -> not decoded as Avro
    val d = Seq(Tuple1(framed)).toDF("value")
      .select(graft.functions.BruteForce
        .decodedWithAvro(col("value"),
          graft.functions.StaticSchemas(Map(7 -> deadLetterAvroSchema))).as("d"))
      .select("d.*").head()
    assert(d.getAs[String]("kind") != "dead_letter" && d.getAs[String]("kind") != "avro")
    // no schema map at all (the default decode) -> same fall-through
    val d2 = Seq(Tuple1(framed)).toDF("value")
      .select(graft.functions.BruteForce.decoded(col("value")).as("d"))
      .select("d.*").head()
    assert(d2.getAs[String]("kind") != "dead_letter" && d2.getAs[String]("kind") != "avro")
  }
}
