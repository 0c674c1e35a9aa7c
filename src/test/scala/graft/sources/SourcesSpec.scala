package graft.sources

import graft.SparkSpec
import graft.streaming.{Generator, MessageStatus, UndeliveredAlert, UndeliveredDetector}
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("avro wire roundtrip preserves every MessageStatus field") {
    import spark.implicits._
    val in = Generator.batch(spark, 50L).as[MessageStatus]
    val back = KafkaIO.unframe(KafkaIO.frame(in)).collect().toSet
    assert(back == in.collect().toSet)
    assert(back.nonEmpty)
  }

  test("avro frame produces non-empty binary key/value columns") {
    import spark.implicits._
    val framed = KafkaIO.frame(Generator.batch(spark, 5L).as[MessageStatus])
    assert(framed.schema.fieldNames.toSeq == Seq("key", "value"))
    framed.collect().foreach { r =>
      assert(r.getAs[Array[Byte]](0).nonEmpty)
      assert(r.getAs[Array[Byte]](1).nonEmpty)
    }
  }

  test("confluent framing roundtrips and strips the 5-byte header") {
    import spark.implicits._
    val in = Generator.batch(spark, 50L).as[MessageStatus]
    val back = KafkaIO.unframeConfluent(KafkaIO.frameConfluent(in))
      .collect().toSet
    assert(back == in.collect().toSet)
    assert(back.nonEmpty)
  }

  test("resolver flow: ids issued by the registry, not constants") {
    import spark.implicits._
    val reg = new InMemorySchemaRegistry
    // seed an unrelated subject so the message ids are NOT (1, 2) — a
    // hardcoded-constant path would fail this round trip
    assert(reg.register("other-subject", "{\"type\":\"string\"}") == 1)
    val in = Generator.batch(spark, 30L).as[MessageStatus]
    val framed = KafkaIO.frameConfluent(in, reg)
    assert(reg.idFor(KafkaIO.KeySubject, AvroWire.MessageKeySchema) == 2)
    assert(reg.idFor(KafkaIO.ValueSubject, AvroWire.MessageStatusSchema) == 3)
    // registration is idempotent: same ids on re-register
    assert(reg.register(KafkaIO.KeySubject, AvroWire.MessageKeySchema) == 2)
    // the embedded header carries the issued id (BE int32 after magic)
    val key = framed.head().getAs[Array[Byte]]("key")
    assert(key.take(5).toSeq == Seq[Byte](0, 0, 0, 0, 2))
    val back = KafkaIO.unframeConfluent(framed, reg).collect().toSet
    assert(back == in.collect().toSet && back.nonEmpty)
    // an unregistered consumer cannot guess ids: lookup throws
    intercept[NoSuchElementException] {
      new InMemorySchemaRegistry().idFor(KafkaIO.KeySubject,
        AvroWire.MessageKeySchema)
    }
  }

  test("confluent wire bytes: magic 0x00 + BE schema id + bare avro body") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val one = Seq(MessageStatus("m-1", "sent", 12125551234L, "att", 1700000000000L))
      .toDS()
    val framed = one.select(
      AvroWire.toAvroConfluent(struct(col("messageId")),
        AvroWire.MessageKeySchema, 7).as("key"),
      AvroWire.toAvro(struct(col("messageId")),
        AvroWire.MessageKeySchema).as("bare"))
      .head()
    val key = framed.getAs[Array[Byte]]("key")
    val bare = framed.getAs[Array[Byte]]("bare")
    // header-compat vector: a registry consumer strips exactly these 5
    // bytes and must find the bare Avro body byte-for-byte
    assert(key.take(5).toSeq == Seq[Byte](0, 0, 0, 0, 7))
    assert(key.drop(5).toSeq == bare.toSeq)
    // the avro body itself: zigzag varint length 3 (0x06) + "m-1" utf8
    assert(bare.toSeq == Seq[Byte](0x06, 'm'.toByte, '-'.toByte, '1'.toByte))
  }

  test("confluent decode rejects a mismatched schema id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val one = Seq(MessageStatus("m-1", "sent", 1L, "att", 0L)).toDS()
    val framed = one.select(AvroWire.toAvroConfluent(
      struct(col("messageId")), AvroWire.MessageKeySchema, 7).as("key"))
    val ex = intercept[Exception] {
      framed.select(AvroWire.fromAvroConfluent(
        col("key"), AvroWire.MessageKeySchema, 8)).collect()
    }
    assert(ex.getMessage.contains("schema id") ||
      Option(ex.getCause).exists(_.getMessage.contains("schema id")))
  }

  test("nullable union fields roundtrip, null and non-null branches") {
    // both branches, both union orders, byte-identical to GenericDatumWriter
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val schema =
      """{"type": "record", "name": "Opt", "fields": [
        |  {"name": "id", "type": "string"},
        |  {"name": "note", "type": ["null", "string"]},
        |  {"name": "n", "type": ["null", "long"]},
        |  {"name": "m", "type": ["long", "null"]}
        |]}""".stripMargin
    val rows = Seq[(String, Option[String], Option[Long], Option[Long])](
      ("a", Some("hé🚀"), Some(Long.MinValue), Some(Long.MaxValue)),
      ("b", None, None, None),
      ("c", Some("hi"), Some(7L), None),
      ("", Some(""), Some(0L), Some(-1L)))
    def ref(r: (String, Option[String], Option[Long], Option[Long])) = avroBytes(schema,
      Seq(r._1, r._2.orNull, r._3.map(Long.box).orNull, r._4.map(Long.box).orNull))
    val enc = rows.toDF("id", "note", "n", "m")
      .select(AvroWire.toAvro(struct(col("id"), col("note"), col("n"), col("m")), schema))
      .as[Array[Byte]].collect()
    rows.zip(enc).foreach { case (r, b) => assert(b.toSeq == ref(r).toSeq, r) }
    val back = rows.map(ref).toDF("b")
      .select(AvroWire.fromAvro(col("b"), schema).as("r"))
      .select("r.id", "r.note", "r.n", "r.m")
      .as[(String, Option[String], Option[Long], Option[Long])].collect().toSeq
    assert(back == rows)
  }

  test("framed produce->consume roundtrip through a live DSv2 transport") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val fmt = classOf[memkafka.MemKafkaProvider].getName
    val topic = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val msgs = Generator.batch(spark, 30L).as[MessageStatus].collect().toSeq
    val ckpt = Files.createTempDirectory("memkafka_ckpt").toString
    // produce: frame to Avro (key, value) and write through the real
    // streaming sink path (per-task writers, driver epoch commit)
    val src = MemoryStream[MessageStatus]
    val w = KafkaIO.frame(src.toDS()).writeStream.format(fmt)
      .option("topic", topic).option("checkpointLocation", ckpt).start()
    try {
      // two batches exercise offset tracking across epochs
      val (b1, b2) = msgs.splitAt(msgs.length / 2)
      src.addData(b1); w.processAllAvailable()
      src.addData(b2); w.processAllAvailable()
    } finally w.stop()
    // consume: read the topic back through the micro-batch source
    val qn = "mk_" + topic
    val r = KafkaIO.unframe(
      spark.readStream.format(fmt).option("topic", topic).load())
      .writeStream.format("memory").queryName(qn).start()
    try r.processAllAvailable() finally r.stop()
    val got = spark.table(qn).as[MessageStatus].collect().toSet
    spark.catalog.dropTempView(qn)
    memkafka.MemBroker.clear(topic)
    assert(got == msgs.toSet)
    assert(got.nonEmpty)
  }

  test("e2e: MemKafka -> unframeConfluent -> detector, epochs + restart") {
    // The declared reference pipeline (undelivered-message-alert/
    // README.md:150-156) end-to-end over the live transport: producer
    // frames Confluent-wire Avro into the topic across multiple epochs;
    // the detector consumes it through the DSv2 source, is STOPPED and
    // restarted from its checkpoint mid-topic, and must still alert on
    // a key whose only events arrived before the restart.
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val fmt = classOf[memkafka.MemKafkaProvider].getName
    val topic = "e2e_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = Files.createTempDirectory("memkafka_e2e")
    val t0 = 1700000000000L
    val timeout = 120000L

    val src = MemoryStream[MessageStatus]
    val prod = KafkaIO.frameConfluent(src.toDS()).writeStream.format(fmt)
      .option("topic", topic)
      .option("checkpointLocation", tmp.resolve("prod").toString).start()
    def produce(ms: MessageStatus*): Unit = {
      src.addData(ms); prod.processAllAvailable()
    }

    val out = tmp.resolve("out").toString
    def consumer() = UndeliveredDetector.alerts(
      KafkaIO.unframeConfluent(
        spark.readStream.format(fmt).option("topic", topic).load()), timeout)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp.resolve("cons").toString)
      .outputMode("append").start()

    try {
      // epoch 1: one key that must alert, one that resolves in time
      produce(
        MessageStatus("m-a", "sent", 1L, "att", t0),
        MessageStatus("m-b", "sent", 2L, "verizon", t0),
        MessageStatus("m-b", "delivered", 2L, "verizon", t0 + 30000))
      val c1 = consumer()
      c1.processAllAvailable()
      c1.stop() // restart point: source offsets + detector state checkpointed

      // epoch 2 consumed after restart advances the watermark past m-a's
      // deadline; epoch 3 is the data batch in which the timer fires
      produce(MessageStatus("sentinel", "delivered", 0L, "none",
        t0 + 10 * timeout))
      val c2 = consumer()
      c2.processAllAvailable()
      produce(MessageStatus("sentinel", "delivered", 0L, "none",
        t0 + 20 * timeout))
      c2.processAllAvailable()
      c2.stop()
    } finally {
      prod.stop()
      memkafka.MemBroker.clear(topic)
    }
    val alerts = spark.read.parquet(out).as[UndeliveredAlert]
      .collect().filterNot(_.messageId == "sentinel")
    assert(alerts.map(_.messageId).toSeq == Seq("m-a"),
      s"expected exactly the pre-restart key to alert, got ${alerts.toSeq}")
    assert(alerts.head.sentTime == t0)
    assert(alerts.head.deadline == t0 + timeout)
  }

  test("alert pipeline micro-batches start no Hadoop Shell process") {
    // Every offset, commit and state-delta file is renamed into place
    // through FileContext; on the fork-free FS none of it may exec.
    // SparkSpec's session keeps Hadoop's stock FS, so this runs in a
    // child session whose Hadoop conf names the benchmarked classes.
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = spark.newSession()
    ss.conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    ss.conf.set("fs.file.impl.disable.cache", "true")
    ss.conf.set("fs.AbstractFileSystem.file.impl", classOf[GraftRawLocalFs].getName)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    import ss.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = ss.sqlContext
    val fmt = classOf[memkafka.MemKafkaProvider].getName
    val topic = "forks_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = Files.createTempDirectory("memkafka_forks")
    val t0 = 1700000000000L
    val timeout = 10000L
    val epochMs = 2 * timeout

    val src = MemoryStream[MessageStatus]
    val prod = KafkaIO.frameConfluent(src.toDS()).writeStream.format(fmt)
      .option("topic", topic)
      .option("checkpointLocation", tmp.resolve("prod").toString).start()
    val alerted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cons = UndeliveredDetector.alerts(
      KafkaIO.unframeConfluent(ss.readStream.format(fmt).option("topic", topic).load()),
      timeout, "1 second")
      .writeStream.foreachBatch { (b: Dataset[UndeliveredAlert], _: Long) =>
        b.collect().foreach(a => alerted.add(a.messageId))
      }
      .option("checkpointLocation", tmp.resolve("cons").toString).start()
    // even keys are delivered in time, odd keys never
    def epoch(i: Int): Unit = {
      src.addData((0 until 20).flatMap { k =>
        val sent = MessageStatus(s"m-$i-$k", "sent", k.toLong, "att", t0 + i * epochMs + k)
        if (k % 2 == 0) Seq(sent, sent.copy(status = "delivered", timestamp = sent.timestamp + 1000))
        else Seq(sent)
      })
      prod.processAllAvailable()
      cons.processAllAvailable()
    }
    try {
      epoch(0) // query start-up (checkpoint dirs, metadata) is outside the window
      val before = cons.recentProgress.length
      val (_, forks) = ShellForks.during((1 to 5).foreach(epoch))
      assert(forks.isEmpty, s"Hadoop Shell processes during micro-batches: $forks")
      assert(cons.recentProgress.length - before >= 5)
    } finally {
      prod.stop(); cons.stop()
      memkafka.MemBroker.clear(topic)
    }
    // epochs 0-3 are past the watermark once epoch 5 is consumed
    val got = alerted.toArray.toSet
    for (i <- 0 to 3; k <- 0 until 20)
      assert(got.contains(s"m-$i-$k") == (k % 2 == 1), s"m-$i-$k")
  }

  /** Reference bytes: Avro's own GenericDatumWriter over `values` in
    * schema field order, optionally behind the Confluent header. */
  private def avroBytes(schemaJson: String, values: Seq[Any],
      header: Option[Int] = None): Array[Byte] = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(schema)
    values.zipWithIndex.foreach { case (v, i) => rec.put(i, v) }
    val out = new java.io.ByteArrayOutputStream()
    header.foreach(id => out.write(java.nio.ByteBuffer.allocate(5).put(0: Byte).putInt(id).array()))
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private val wireRows = Seq(
    MessageStatus("m-1", "sent", 12125551234L, "att", 1700000000000L),
    MessageStatus("", "", 0L, "", 0L),
    MessageStatus("héllo-日本語-🚀", "délivré", Long.MinValue, "ünï", Long.MaxValue),
    MessageStatus("x", "s", Long.MaxValue, "c", Long.MinValue),
    MessageStatus("y", "d", -1L, "ĉ", -1L))

  private def keyVals(m: MessageStatus) = Seq(m.messageId)
  private def valueVals(m: MessageStatus) =
    Seq(m.status, m.phoneNumber, m.carrier, m.timestamp)

  test("avro encode is byte-identical to GenericDatumWriter, bare and framed") {
    import spark.implicits._
    val ds = wireRows.toDS()
    val bare = KafkaIO.frame(ds).collect()
    val framed = KafkaIO.frameConfluent(ds, 7, 9).collect()
    wireRows.zipWithIndex.foreach { case (m, i) =>
      val k = AvroWire.MessageKeySchema
      val v = AvroWire.MessageStatusSchema
      assert(bare(i).getAs[Array[Byte]](0).toSeq == avroBytes(k, keyVals(m)).toSeq, m)
      assert(bare(i).getAs[Array[Byte]](1).toSeq == avroBytes(v, valueVals(m)).toSeq, m)
      assert(framed(i).getAs[Array[Byte]](0).toSeq ==
        avroBytes(k, keyVals(m), Some(7)).toSeq, m)
      assert(framed(i).getAs[Array[Byte]](1).toSeq ==
        avroBytes(v, valueVals(m), Some(9)).toSeq, m)
    }
  }

  test("avro decode reads GenericDatumWriter bytes, bare and framed") {
    import spark.implicits._
    val ref = wireRows.map(m => (
      avroBytes(AvroWire.MessageKeySchema, keyVals(m)),
      avroBytes(AvroWire.MessageStatusSchema, valueVals(m)),
      avroBytes(AvroWire.MessageKeySchema, keyVals(m), Some(3)),
      avroBytes(AvroWire.MessageStatusSchema, valueVals(m), Some(4))))
    val df = ref.toDF("key", "value", "fkey", "fvalue")
    assert(KafkaIO.unframe(df.select("key", "value")).collect().toSeq == wireRows)
    assert(KafkaIO.unframeConfluent(
      df.select($"fkey".as("key"), $"fvalue".as("value")), 3, 4)
      .collect().toSeq == wireRows)
  }

  test("decoded rows keep their own values within one task") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    // distinct rows of different lengths, so a shared decoder or string
    // buffer would leak one row's bytes into the next
    val msgs = (0 until 200).map(i => MessageStatus(s"m-$i-" + "é" * (i % 7),
      if (i % 2 == 0) "sent" else "delivered", i.toLong, "c" * (i % 5), -i.toLong))
    val framed = spark.createDataset(spark.sparkContext.parallelize(msgs, 1))
    val back = KafkaIO.unframeConfluent(KafkaIO.frameConfluent(framed))
    assert(back.rdd.getNumPartitions == 1)
    assert(back.collect().toSeq == msgs)
    // the same at the expression level, holding every output row
    val dec = AvroDecode(BoundReference(0, BinaryType, nullable = false),
      AvroWire.MessageStatusSchema, Some(2))
    val held = msgs.map(m => dec.eval(InternalRow(
      avroBytes(AvroWire.MessageStatusSchema, valueVals(m), Some(2)))).asInstanceOf[InternalRow])
    msgs.zip(held).foreach { case (m, r) =>
      assert((r.getUTF8String(0).toString, r.getLong(1), r.getUTF8String(2).toString,
        r.getLong(3)) == ((m.status, m.phoneNumber, m.carrier, m.timestamp)))
    }
  }

  test("confluent decode rejects short frames, bad magic and wrong ids in place") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val dec = AvroDecode(BoundReference(0, BinaryType, nullable = false),
      AvroWire.MessageKeySchema, Some(7))
    val good = avroBytes(AvroWire.MessageKeySchema, Seq("m-1"), Some(7))
    assert(dec.eval(InternalRow(good)).asInstanceOf[InternalRow]
      .getUTF8String(0).toString == "m-1")
    def rejects(b: Array[Byte], why: String) = {
      val ex = intercept[IllegalArgumentException](dec.eval(InternalRow(b)))
      assert(ex.getMessage.contains(why), ex.getMessage)
    }
    rejects(Array.emptyByteArray, "not Confluent-framed")
    rejects(Array[Byte](0, 0, 0, 7), "not Confluent-framed")
    rejects(good.updated(0, 1.toByte), "not Confluent-framed")
    rejects(avroBytes(AvroWire.MessageKeySchema, Seq("m-1"), Some(8)), "schema id 8")
    // still decodes after the rejections: no state was left behind
    assert(dec.eval(InternalRow(good)).asInstanceOf[InternalRow]
      .getUTF8String(0).toString == "m-1")
  }

  test("unframeConfluent plans exactly one AvroDecode per framed column") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = Files.createTempDirectory("unframe_plan").toString + "/t"
    KafkaIO.frameConfluent(wireRows.toDS()).write.parquet(dir)
    val df = KafkaIO.unframeConfluent(spark.read.parquet(dir))
    assert(df.collect().toSet == wireRows.toSet)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val decodes = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case d: AvroDecode => d.schemaJson })
    // four value fields are extracted, but the decoder runs once per row
    assert(decodes.sorted == Seq(AvroWire.MessageKeySchema, AvroWire.MessageStatusSchema).sorted,
      plan.toString)
  }

  test("memkafka splits a large offset range into contiguous covering ranges") {
    import memkafka.MemKafkaMicroBatchStream.{MinRecordsPerSplit => Min, split}
    for (from <- Seq(0L, 17L, 123456L); n <- Seq(0L, 1L, Min - 1L, Min.toLong,
        2L * Min - 1, 2L * Min, 50000L, 1000003L); par <- Seq(1, 2, 4, 7, 32)) {
      val rs = split(from, from + n, par)
      assert(rs.nonEmpty && rs.head._1 == from && rs.last._2 == from + n)
      rs.sliding(2).foreach {
        case Array(a, b) => assert(a._2 == b._1)
        case _ =>
      }
      assert(rs.forall { case (a, b) => a <= b })
      if (n < 2L * Min) assert(rs.length == 1, (from, n, par))
      assert(rs.length <= par)
      if (rs.length > 1) assert(rs.forall { case (a, b) => b - a >= Min })
    }
    assert(split(0L, 50000L, 4).length == 4)
    assert(split(0L, 900L, 4).length == 1)
    // planned through the source: the session's parallelism caps it
    val par = spark.sparkContext.defaultParallelism
    val stream = new memkafka.MemKafkaMicroBatchStream("unused")
    import memkafka.MemOffset
    assert(stream.planInputPartitions(MemOffset(0L), MemOffset(900L)).length == 1)
    assert(stream.planInputPartitions(MemOffset(5L), MemOffset(5L + 100L * Min)).length == par)
  }

  test("split memkafka reads return every record once across a restart") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import memkafka.{MemBroker, MemKafkaMicroBatchStream, MemKafkaProvider, MemOffset}
    val fmt = classOf[MemKafkaProvider].getName
    val topic = "split_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = Files.createTempDirectory("memkafka_split")
    val epoch = 3 * MemKafkaMicroBatchStream.MinRecordsPerSplit
    val msgs = (0 until 2 * epoch).map(i =>
      MessageStatus(s"m-$i", "sent", i.toLong, "att", 1700000000000L + i))
    assert(new MemKafkaMicroBatchStream(topic)
      .planInputPartitions(MemOffset(0L), MemOffset(epoch.toLong)).length > 1)

    val src = MemoryStream[MessageStatus]
    val prod = KafkaIO.frameConfluent(src.toDS()).writeStream.format(fmt)
      .option("topic", topic)
      .option("checkpointLocation", tmp.resolve("prod").toString).start()
    val out = tmp.resolve("out").toString
    def consumer() = KafkaIO.unframeConfluent(
        spark.readStream.format(fmt).option("topic", topic).load())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp.resolve("cons").toString).start()
    try {
      src.addData(msgs.take(epoch)); prod.processAllAvailable()
      val c1 = consumer()
      c1.processAllAvailable(); c1.stop()
      src.addData(msgs.drop(epoch)); prod.processAllAvailable()
      val c2 = consumer()
      c2.processAllAvailable(); c2.stop()
    } finally {
      prod.stop()
      MemBroker.clear(topic)
    }
    val got = spark.read.parquet(out).as[MessageStatus].collect()
    assert(got.length == msgs.length)
    assert(got.sortBy(_.phoneNumber).toSeq == msgs)
  }

  test("kafka writer carries the reference reliability options") {
    val opts = KafkaIO.producerOptions("broker:9092")
    assert(opts("kafka.acks") == "all")
    assert(opts("kafka.retries") == "3")
    assert(opts("kafka.delivery.timeout.ms") == "60000")
  }

  test("compaction shrinks the file count and preserves every row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_").toString + "/t"
    // 20 one-row appends => 20+ tiny files, the streaming-sink pathology
    (0 until 20).foreach { i =>
      ParquetStore.append(Seq((i.toLong, s"row$i")).toDF("k", "v"), dir)
    }
    val before = spark.read.parquet(dir).collect().map(_.toSeq.toString).sorted
    val (nBefore, nAfter) = ParquetStore.compact(spark, dir, targetMB = 128)
    assert(nBefore >= 20)
    assert(nAfter == 1) // 20 tiny rows fit one target-sized file
    val after = spark.read.parquet(dir).collect().map(_.toSeq.toString).sorted
    assert(after.toSeq == before.toSeq)
  }

  test("insertIfAbsent ignores duplicate keys across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pqstore").toString + "/t"
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b2 = Seq((2L, "B"), (3L, "c"), (3L, "c2")).toDF("k", "v")
    ParquetStore.insertIfAbsent(spark, b1, dir, "k")
    ParquetStore.insertIfAbsent(spark, b2, dir, "k")
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(2L) == "b") // first write wins, OR IGNORE semantics
  }

  test("insertIfAbsent serializes concurrent same-path writers (no dupes)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("pqrace").toString + "/t"
    // both writers carry the same keys; unserialized read-then-append
    // would let both pass the anti-join and double-insert
    val fs = (1 to 2).map { i =>
      Future {
        val batch = (1L to 50L).map(k => (k, s"w$i")).toDF("k", "v")
        ParquetStore.insertIfAbsent(spark, batch, dir, "k")
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    val rows = spark.read.parquet(dir).as[(Long, String)].collect()
    assert(rows.length == 50, s"expected 50 unique keys, got ${rows.length}")
    assert(rows.map(_._1).toSet == (1L to 50L).toSet)
  }

  test("console dry-run sink drives the generator without a broker") {
    val q = KafkaIO.consoleWriter(
      Generator.stream(spark, rowsPerSecond = 50,
        heartbeatMs = 200L, timeoutMs = 800L, normalMs = 200L,
        delayedMeanMs = 400L, delayedStdMs = 50L))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      // wait for the first completed micro-batch (fixed sleeps flake
      // when the suite saturates the scheduler)
      val deadline = System.currentTimeMillis() + 30000
      while (q.recentProgress.isEmpty && q.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(q.exception.isEmpty, q.exception.toString)
      assert(q.recentProgress.nonEmpty, "no micro-batch completed in 30s")
    } finally q.stop()
  }

  test("partitioned write prunes non-matching partitions at scan time") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pqpart").toString + "/msgs"
    val msgs = Seq(("m1", "sent", 1L), ("m2", "delivered", 2L),
      ("m3", "sent", 3L)).toDF("message_id", "status", "phone")
    ParquetStore.writePartitioned(msgs, dir, "status")
    val q = spark.read.parquet(dir).filter($"status" === "sent")
    val plan = q.queryExecution.executedPlan.toString
    // the status predicate must become a partition filter, not a data filter
    assert(plan.contains("PartitionFilters: [isnotnull(status"), plan)
    assert(q.count() == 2)
  }

  test("bucketed tables join with zero shuffle") {
    import org.apache.spark.sql.functions._
    val o = graft.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c = graft.Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    // a previous JVM's warehouse dir survives while the in-memory
    // catalog does not — clear orphaned locations first
    Seq("b_orders", "b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"spark-warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    ParquetStore.writeBucketed(o, "b_orders", "o_custkey", 8)
    ParquetStore.writeBucketed(c, "b_customer", "c_custkey", 8)
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer").hint("merge"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("counters view reproduces the reference's per-phone tallies") {
    import spark.implicits._
    val msgs = Seq(
      ("m1", "sent", 100L), ("m1", "delivered", 100L),
      ("m2", "sent", 100L), ("m3", "sent", 200L))
      .toDF("messageId", "status", "phoneNumber")
    val c = ParquetStore.counters(msgs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c(100L) == (3L, 1L))
    assert(c(200L) == (1L, 0L))
  }
}
