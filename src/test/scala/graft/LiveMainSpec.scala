package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.ReferenceFixtures._
import graft.fakesdk.FakeSdkState
import graft.sink.{ProcCaller, SdkKinesisClient}

/** Live-mode rehearsal: [[LiveMain.wire]] assembles the DEPLOYABLE
  * pipeline — config surface → Transis source → parse/filter →
  * job-bracketed Kinesis push through the REAL reflective SDK adapter —
  * and this spec drives one document through that exact wiring against
  * the in-repo stubs (file transport, fake SDK with the AWS method
  * shapes, recording DB caller). The only differences from a
  * production launch are the class-name knobs and the conf values. */
class LiveMainSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private class RecordingCaller extends ProcCaller {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Any])]
    @volatile var closed = false
    override def call(proc: String, args: Seq[Any]): String = synchronized {
      calls += ((proc, args))
      if (proc.endsWith("strt_job"))
        """[{"key":"job_id","value":"J-77"}]"""
      else """[{"key":"status","value":"success"}]"""
    }
    override def close(): Unit = closed = true
  }

  test("one document end-to-end through the deployable wiring") {
    val payload = java.nio.file.Files
      .createTempFile("graft-live", ".payload").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(payload),
      (singleSiteDoc + NUL).getBytes("UTF-8"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-live-ckpt").toString

    val confKeys = Map(
      "spark.graft.transis.path" -> payload,
      "spark.graft.checkpointDir" -> ckpt,
      "spark.graft.kinesis.streamName" -> "rehearsal-stream",
      "spark.graft.kinesis.batchSize" -> "10",
      "spark.graft.di.schemaName" -> "disch",
      "spark.graft.di.jobName" -> "graft_rehearsal")
    confKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    FakeSdkState.reset()
    val caller = new RecordingCaller

    val wired = LiveMain.wire(spark,
      // the REAL reflective adapter, pointed at the in-repo SDK shapes
      clientFactory = Some(() => new SdkKinesisClient(
        kinesisClientClass = "graft.fakesdk.KinesisClient",
        modelPackage = "graft.fakesdk",
        sdkBytesClass = "graft.fakesdk.SdkBytes")),
      procCaller = Some(caller))
    try {
      wired.query.processAllAvailable()

      // the document traversed parse -> detector-count record -> K5
      // serialization -> reflective put on the configured stream
      assert(FakeSdkState.requests.size === 1)
      val req = FakeSdkState.requests.peek()
      assert(req.streamName === "rehearsal-stream")
      assert(req.entries.size === 1)
      val body = new String(req.entries.get(0).data.bytes, "UTF-8")
      assert(body.contains("\"siteId\""),
        s"pushed record must be the serialized detector counts: $body")

      // the batch ran inside one D1->D2->D3 bracket with the stashed id
      val procs = caller.synchronized(caller.calls.map(_._1).toList)
      assert(procs === List("disch.strt_job", "disch.log_job_stus",
        "disch.end_job"))
      val logArgs = caller.synchronized(caller.calls(1)._2)
      assert(logArgs.take(2) === Seq("graft_rehearsal", "J-77"))
      assert(logArgs(2).toString.contains("\"records_in_xml_doc\": 1"))
    } finally {
      wired.query.stop()
      confKeys.keys.foreach(spark.conf.unset)
    }
  }

  test("a live HTTP stream costs one connection however many batches run") {
    // the driver's counting connection also serves every batch's
    // documents; a batch that re-read them on a connection of its own
    // would open a second one
    val doc = (singleSiteDoc + NUL).getBytes("UTF-8")
    val srv = new LiveServer(doc)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-live-http-ckpt").toString
    val confKeys = Map(
      "spark.graft.transis.path" -> srv.url,
      "spark.graft.transis.streamTimeoutSecs" -> "2",
      "spark.graft.checkpointDir" -> ckpt,
      "spark.graft.kinesis.streamName" -> "live-stream",
      "spark.graft.di.schemaName" -> "disch",
      "spark.graft.di.jobName" -> "graft_live")
    confKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    FakeSdkState.reset()
    val caller = new RecordingCaller
    val wired = LiveMain.wire(spark,
      clientFactory = Some(() => new SdkKinesisClient(
        kinesisClientClass = "graft.fakesdk.KinesisClient",
        modelPackage = "graft.fakesdk",
        sdkBytesClass = "graft.fakesdk.SdkBytes")),
      procCaller = Some(caller))
    try {
      // one document per batch: the next is sent once the last batch's
      // D1->D2->D3 bracket has closed
      def brackets = caller.synchronized(caller.calls.size) / 3
      for (batch <- 1 to 3) {
        val deadline = System.currentTimeMillis() + 60000
        while (brackets < batch && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(brackets === batch, s"batch $batch did not complete")
        assert(FakeSdkState.requests.size === batch)
        if (batch < 3) srv.send(doc)
      }
      val procs = caller.synchronized(caller.calls.map(_._1).toList)
      assert(procs === List.fill(3)(List("disch.strt_job",
        "disch.log_job_stus", "disch.end_job")).flatten)
      assert(srv.accepted.get() === 1, s"accepted=${srv.accepted.get()}")
    } finally {
      wired.query.stop()
      srv.close()
      confKeys.keys.foreach(spark.conf.unset)
    }
  }

  test("LiveMain boots from a stubbed Secrets Manager secret end-to-end " +
      "(reflective SDK path)") {
    import graft.fakesdk.FakeSecretsState
    val payload = java.nio.file.Files
      .createTempFile("graft-live-sec", ".payload").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(payload),
      (singleSiteDoc + NUL).getBytes("UTF-8"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-live-sec-ckpt").toString
    FakeSecretsState.reset()
    FakeSdkState.reset()
    // the two reference-shaped JSON secrets (utils.py:40-52): Transis
    // service creds + DI database creds; the DI one answers through
    // the SecretBinary branch to cover both payload fields
    FakeSecretsState.secrets.put("test/transis",
      """{"hostname":"h-sec","port":"8099","username":"u-sec",
         |"password":"p-sec"}""".stripMargin.replace("\n", ""))
    FakeSecretsState.secrets.put("test/di",
      """{"host":"db-sec","username":"di-u","password":"di-p"}""")
    FakeSecretsState.binaryIds.add("test/di"): Unit
    val confKeys = Map(
      "spark.graft.secrets.transisId" -> "test/transis",
      "spark.graft.secrets.diId" -> "test/di",
      "spark.graft.secrets.region" -> "ap-southeast-2",
      "spark.graft.transis.path" -> payload,
      "spark.graft.checkpointDir" -> ckpt,
      "spark.graft.kinesis.streamName" -> "secrets-stream",
      "spark.graft.di.schemaName" -> "disch",
      "spark.graft.di.jobName" -> "graft_secrets")
    confKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    val caller = new RecordingCaller
    val wired = LiveMain.wire(spark,
      clientFactory = Some(() => new SdkKinesisClient(
        kinesisClientClass = "graft.fakesdk.KinesisClient",
        modelPackage = "graft.fakesdk",
        sdkBytesClass = "graft.fakesdk.SdkBytes")),
      procCaller = Some(caller),
      // the REAL reflective adapter, pointed at the in-repo SDK shapes
      secretsClient = Some(new graft.sources.SdkSecretsClient(
        region = Some("ap-southeast-2"),
        clientClass = "graft.fakesdk.SecretsManagerClient",
        modelPackage = "graft.fakesdk",
        regionClass = "graft.fakesdk.Region")))
    try {
      // the resolved secrets landed as the conf the pipeline reads
      assert(spark.conf.get("spark.graft.transis.username") === "u-sec")
      assert(spark.conf.get("spark.graft.transis.password") === "p-sec")
      assert(spark.conf.get("spark.graft.di.user") === "di-u")
      assert(spark.conf.get("spark.graft.di.jdbcUrl") ===
        "jdbc:postgresql://db-sec/postgres")
      assert(FakeSecretsState.regions.peek() === "ap-southeast-2",
        "the region must pin through the builder path")
      // and the wired pipeline runs end-to-end on them
      wired.query.processAllAvailable()
      assert(FakeSdkState.requests.size === 1)
      assert(FakeSdkState.requests.peek().streamName === "secrets-stream")
    } finally {
      wired.query.stop()
      confKeys.keys.foreach(spark.conf.unset)
      Seq("spark.graft.transis.username", "spark.graft.transis.password",
        "spark.graft.di.user", "spark.graft.di.password",
        "spark.graft.di.jdbcUrl", "spark.graft.transis.hostname",
        "spark.graft.transis.port").foreach(spark.conf.unset)
    }
  }

  test("secret-resolution failure falls back WHOLE to the local config " +
      "file, loudly") {
    import graft.fakesdk.FakeSecretsState
    FakeSecretsState.reset() // no secrets registered -> fetch throws
    val local = java.nio.file.Files
      .createTempFile("graft-local-cfg", ".json")
    java.nio.file.Files.write(local,
      """{"transis_config_prod":{"hostname":"h-loc","port":"8088",
         |"username":"u-loc","password":"p-loc"},
         |"di_framework_config":{"connection_details":{"host":"db-loc",
         |"database":"postgres","user":"lu","password":"lp"},
         |"schema_name":"locsch","job_name":"locjob"},
         |"kinesis_config":{"region_name":"eu-west-1",
         |"stream_name":"loc-stream"}}""".stripMargin.replace("\n", "")
        .getBytes("UTF-8"))
    val confKeys = Map(
      "spark.graft.secrets.transisId" -> "missing/id",
      "spark.graft.secrets.diId" -> "missing/di",
      "spark.graft.secrets.localConfig" -> local.toString)
    confKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val source = graft.sources.SecretsConfig.resolve(spark,
        Some(new graft.sources.SdkSecretsClient(
          clientClass = "graft.fakesdk.SecretsManagerClient",
          modelPackage = "graft.fakesdk",
          regionClass = "graft.fakesdk.Region")))
      assert(source === "local")
      // the WHOLE 3-section file landed, reference local_config shape
      assert(spark.conf.get("spark.graft.transis.hostname") === "h-loc")
      assert(spark.conf.get("spark.graft.di.jdbcUrl") ===
        "jdbc:postgresql://db-loc/postgres")
      assert(spark.conf.get("spark.graft.di.schemaName") === "locsch")
      assert(spark.conf.get("spark.graft.kinesis.streamName") ===
        "loc-stream")
      assert(spark.conf.get("spark.graft.kinesis.regionName") ===
        "eu-west-1")
      // no ids configured -> resolution is a no-op ("conf")
      confKeys.keys.foreach(spark.conf.unset)
      assert(graft.sources.SecretsConfig.resolve(spark, None) === "conf")
    } finally {
      confKeys.keys.foreach(k =>
        scala.util.Try(spark.conf.unset(k)): Unit)
      Seq("spark.graft.transis.hostname", "spark.graft.transis.port",
        "spark.graft.transis.username", "spark.graft.transis.password",
        "spark.graft.di.user", "spark.graft.di.password",
        "spark.graft.di.jdbcUrl", "spark.graft.di.schemaName",
        "spark.graft.di.jobName", "spark.graft.kinesis.regionName",
        "spark.graft.kinesis.streamName").foreach(spark.conf.unset)
    }
  }

  test("a missing checkpoint location fails fast, never defaults to temp") {
    // a per-launch temp checkpoint would silently discard stream
    // progress on restart and reset the publish namespace — replaying
    // delivered pushes; the deployable entry point must refuse
    val payload = java.nio.file.Files
      .createTempFile("graft-live-nockpt", ".payload").toString
    spark.conf.set("spark.graft.transis.path", payload)
    try {
      val e = intercept[IllegalArgumentException] {
        LiveMain.wire(spark,
          clientFactory = Some(() => new SdkKinesisClient(
            kinesisClientClass = "graft.fakesdk.KinesisClient",
            modelPackage = "graft.fakesdk",
            sdkBytesClass = "graft.fakesdk.SdkBytes")),
          procCaller = Some(new RecordingCaller))
      }
      assert(e.getMessage.contains("checkpointDir"))
    } finally spark.conf.unset("spark.graft.transis.path")
  }
}
