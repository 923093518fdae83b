package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("codec is pluggable: an installed implementation replaces the stub") {
    object FixedCodec extends Multimodal.MediaCodec {
      override def name = "fixed"
      override def decodeMeta(b: Array[Byte]) = ("fixed", 1, 2)
      override def resize(b: Array[Byte], w: Int, h: Int) = Array[Byte](7)
      override def featurize(b: Array[Byte], dim: Int) = Array.fill(dim)(0.5f)
      override def sampleFrames(b: Array[Byte], n: Int) = Seq(Array[Byte](9))
      override def pixelChecksum(b: Array[Byte]) = 11L
    }
    try {
      Multimodal.installCodec(FixedCodec)
      val meta = Multimodal.withDecodedMeta(media.filter($"id" === 1), "content")
        .head().getStruct(2)
      assert(meta.getString(0) === "fixed" && meta.getInt(1) === 1)
      val emb = Multimodal.withEmbedding(media.filter($"id" === 1), "content", dim = 4)
        .head().getSeq[Float](2)
      assert(emb === Seq(0.5f, 0.5f, 0.5f, 0.5f))
    } finally Multimodal.installCodec(Multimodal.defaultCodec)
  }

  lazy val media = Seq(
    (1L, "img/a.jpg".getBytes("UTF-8")),
    (2L, "img/b.jpg plus more bytes".getBytes("UTF-8")),
    (3L, null.asInstanceOf[Array[Byte]]))
    .toDF("id", "content")

  test("withDecodedMeta attaches typed metadata, null-safe") {
    val got = Multimodal.withDecodedMeta(media, "content")
    assert(got.schema("meta").dataType === Multimodal.mediaMetaType)
    val rows = got.orderBy("id").collect()
    val m1 = rows(0).getStruct(2)
    assert(Seq("jpeg", "png", "webp").contains(m1.getString(0)))
    assert(m1.getLong(3) === 9L) // n_bytes
    assert(rows(2).isNullAt(2))  // null payload → null meta
    // determinism: same bytes → same meta
    val again = Multimodal.withDecodedMeta(media, "content").orderBy("id").head().getStruct(2)
    assert(again === m1)
  }

  test("withEmbedding produces array<float> consumable by VectorSearch") {
    val emb = Multimodal.withEmbedding(media.filter($"id" < 3), "content", dim = 16)
    val q = emb.filter($"id" === 1).select("embedding").head().getSeq[Float](0)
    assert(q.length === 16)
    val top = graft.operators.VectorSearch.topK(
      emb, col("embedding"), q, 1, "cosine", None, "d", Seq(col("id")))
    assert(top.select("id").head().getLong(0) === 1L) // self is nearest
  }

  test("explodeFrames emits n rows per video payload") {
    val frames = Multimodal.explodeFrames(media.filter($"id" === 1), "content", 4)
    assert(frames.count() === 4)
    assert(frames.select("frame_idx").collect().map(_.getInt(0)).toSet === Set(0, 1, 2, 3))
  }

  // ---- real JDK codec paths (payloads generated in-memory; the codec
  // itself decodes them with javax.imageio / javax.sound) ----

  private def pngPayload(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, ((x * 255 / math.max(1, w - 1)) << 16) | (y * 255 / math.max(1, h - 1)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def wavPayload(seconds: Double, hz: Double, rate: Float = 8000f): Array[Byte] = {
    val n = (seconds * rate).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * hz * i / rate) * 30000).toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("JDK codec decodes real PNG metadata (format, true dimensions)") {
    val df = Seq((1L, pngPayload(31, 17))).toDF("id", "content")
    val meta = Multimodal.withDecodedMeta(df, "content").head().getStruct(2)
    assert(meta.getString(0) === "png")
    assert(meta.getInt(1) === 31 && meta.getInt(2) === 17)
  }

  test("JDK codec resize really rescales: output decodes at target size") {
    val df = Seq((1L, pngPayload(64, 64))).toDF("id", "content")
    val out = Multimodal.withResized(df, "content", 8, 6)
      .select("resized").head().getAs[Array[Byte]](0)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img.getWidth === 8 && img.getHeight === 6)
  }

  test("JDK codec featurize is content-derived: similar images near, inverted far") {
    val base = pngPayload(64, 64)
    val near = Multimodal.defaultCodec.resize(base, 63, 63) // tiny rescale ≈ same content
    // inverted gradient = very different luminance layout
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 64)
      img.setRGB(x, y, (((63 - x) * 255 / 63) << 16) | ((63 - y) * 255 / 63))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val far = bos.toByteArray

    val codec = Multimodal.defaultCodec
    def d(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val fBase = codec.featurize(base, 16)
    assert(d(fBase, codec.featurize(near, 16)) < d(fBase, codec.featurize(far, 16)))
  }

  test("JDK codec decodes real WAV metadata and RMS features") {
    val loud = wavPayload(0.25, 440)
    val df = Seq((1L, loud)).toDF("id", "content")
    val meta = Multimodal.withDecodedMeta(df, "content").head().getStruct(2)
    assert(meta.getString(0) === "wav")
    assert(meta.getInt(1) === 8000 && meta.getInt(2) === 1)
    val codec = Multimodal.defaultCodec
    val f = codec.featurize(loud, 8)
    assert(f.length === 8)
    // a full-scale sine has RMS ≈ 0.707 · 30000/32768 ≈ 0.65 in every frame
    assert(f.forall(x => x > 0.5f && x < 0.8f))
  }

  test("JDK codec samples WAV into standalone playable chunks") {
    val frames = Multimodal.explodeFrames(
      Seq((1L, wavPayload(0.5, 220))).toDF("id", "content"), "content", 4)
      .select("frame").collect().map(_.getAs[Array[Byte]](0))
    assert(frames.length === 4)
    frames.foreach { chunk =>
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(chunk))
      assert(in.getFormat.getSampleRate === 8000f)
      in.close()
    }
  }

  test("dHash: rescaled image is near in Hamming, different image far") {
    val base = pngPayload(64, 64)
    val near = Multimodal.defaultCodec.resize(base, 48, 48)
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 64)
      img.setRGB(x, y, (((63 - x) * 255 / 63) << 16) | ((63 - y) * 255 / 63))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val far = bos.toByteArray

    val hBase = Multimodal.dHash(base)
    val dNear = java.lang.Long.bitCount(hBase ^ Multimodal.dHash(near))
    val dFar = java.lang.Long.bitCount(hBase ^ Multimodal.dHash(far))
    assert(dNear <= 6, s"rescale moved $dNear bits")
    assert(dFar > 20, s"different image only $dFar bits away")

    // column form, null-safe
    val df = Seq((1L, base), (2L, near), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "content")
    val rows = Multimodal.withDHash(df, "content").orderBy("id").collect()
    assert(rows(0).getLong(2) === hBase)
    assert(rows(2).isNullAt(2))
  }

  test("corrupt media payloads fall back to the stub — the pipeline never crashes") {
    val good = pngPayload(16, 16)
    // valid PNG magic, garbage body — ImageIO.read returns null/throws
    val corrupt = good.clone()
    for (i <- 12 until corrupt.length) corrupt(i) = (i * 31).toByte
    val truncated = java.util.Arrays.copyOf(good, 20)
    val df = Seq((1L, corrupt), (2L, truncated)).toDF("id", "content")
    val rows = Multimodal.withDecodedMeta(df, "content").orderBy("id").collect()
    // falls back to deterministic stub meta instead of throwing
    assert(rows.forall(!_.isNullAt(2)))
    val emb = Multimodal.withEmbedding(df, "content", dim = 8).orderBy("id").collect()
    assert(emb.forall(_.getSeq[Float](2).length === 8))
    val rs = Multimodal.withResized(df, "content", 4, 4).orderBy("id").collect()
    assert(rs.forall(!_.isNullAt(2)))
  }

  test("getObject UDF resolves url to payload") {
    val got = Seq("s3://bucket/key").toDF("url")
      .select(Multimodal.getObjectUdf(col("url")).as("obj"))
      .head().getAs[Array[Byte]](0)
    assert(new String(got, "UTF-8") === "object-payload:s3://bucket/key")
  }

  test("connection catalog + SQL getObject (ref 00009_mqai_objecturl)") {
    import graft.multimodal.Connections
    try {
      Connections.create("conn_00009", "AWS",
        awsRoleArn = "arn:aws:iam::111111111:role/rolename",
        awsRoleExternalId = "0000")
      // system.connections analog carries name/arn/external_id
      val row = Connections.asDataFrame(spark)
        .filter(col("name") === "conn_00009").head()
      assert(row.getAs[String]("arn") === "arn:aws:iam::111111111:role/rolename")
      assert(row.getAs[String]("external_id") === "0000")
      // getObject is a catalog-visible SQL function (system.functions)
      assert(spark.catalog.functionExists("getObject"))
      // and callable from pure SQL through the named connection
      // (file scheme needs an FS-provider connection: AWS connections
      // are scheme-restricted to s3/http(s) — ADVICE r9 SSRF fix)
      Connections.create("conn_00009_fs", "FS")
      val f = tempDir("obj").resolve("obj.bin")
      java.nio.file.Files.write(f, "sql-payload".getBytes("UTF-8"))
      val got = spark.sql(
        s"SELECT getObject('conn_00009_fs', 'file://${f}')")
        .head().getAs[Array[Byte]](0)
      assert(new String(got, "UTF-8") === "sql-payload")
      // an AWS connection refuses local-file reads
      intercept[Exception] {
        spark.sql(s"SELECT getObject('conn_00009', 'file://${f}')").collect()
      }
      intercept[Exception] {
        spark.sql("SELECT getObject('no_such_conn', '/x')").collect()
      }
    } finally { Connections.drop("conn_00009"); Connections.drop("conn_00009_fs") }
  }

  test("getObject http(s): real JDK fetch — payload, 5xx retry, 4xx fail-fast") {
    // http(s) is real (ref getObject.cpp +
    // 00009_mqai_objecturl_getObject.sql); s3/gs are real too via the
    // SigV4 presigner (separate tests below)
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.multimodal.Connections
    val server =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val flakyHits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/obj.bin", (ex: HttpExchange) => {
      val body = "http-payload".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/flaky.bin", (ex: HttpExchange) => {
      if (flakyHits.incrementAndGet() == 1) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else {
        val body = "after-retry".getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.createContext("/missing.bin", (ex: HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      Connections.create("web", "HTTP")
      // fetched through the UDF path, inside a task
      val got = Seq(s"http://127.0.0.1:$port/obj.bin").toDF("url")
        .select(Connections.getObject(spark, "web")(col("url")).as("obj"))
        .head().getAs[Array[Byte]](0)
      assert(new String(got, "UTF-8") === "http-payload")
      // one 503 then success: the retry loop absorbs it
      assert(new String(
        Connections.httpFetch(s"http://127.0.0.1:$port/flaky.bin"),
        "UTF-8") === "after-retry")
      assert(flakyHits.get() === 2)
      // 404 fails immediately (single attempt, no retry)
      val ex404 = intercept[java.io.IOException] {
        Connections.httpFetch(s"http://127.0.0.1:$port/missing.bin")
      }
      assert(ex404.getMessage.contains("404"))
    } finally {
      server.stop(0)
      Connections.drop("web")
    }
  }
  test("getObject gs:// signs with SigV4 HMAC interop against the XML API") {
    // a local fake-GCS XML endpoint: asserts the request is a SigV4
    // presigned GET (AWS4-HMAC-SHA256 + signature present — the signer
    // itself is pinned to published AWS vectors in SigV4Spec) and serves
    // the object path-style, exactly how storage.googleapis.com accepts
    // HMAC interop keys
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.multimodal.Connections
    val server =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenQuery: String = null
    server.createContext("/b1/media/clip.bin", (ex: HttpExchange) => {
      seenQuery = ex.getRequestURI.getRawQuery
      val body = "gcs-payload".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      Connections.registerCredentials("gcs-hmac",
        Connections.ObjectStoreCredentials(
          "GOOG1EXAMPLEKEY", "hmac-interop-secret", region = "auto"))
      Connections.create("gcs", "GCP",
        endpoint = s"http://127.0.0.1:$port", credentialRef = "gcs-hmac")
      val got = Seq("gs://b1/media/clip.bin").toDF("url")
        .select(Connections.getObject(spark, "gcs")(col("url")).as("obj"))
        .head().getAs[Array[Byte]](0)
      assert(new String(got, "UTF-8") === "gcs-payload")
      assert(seenQuery != null)
      assert(seenQuery.contains("X-Amz-Algorithm=AWS4-HMAC-SHA256"))
      assert(seenQuery.contains("X-Amz-Signature="))
      assert(seenQuery.contains("GOOG1EXAMPLEKEY"))
      assert(seenQuery.contains("auto%2Fs3%2Faws4_request"))
    } finally {
      server.stop(0)
      Connections.drop("gcs")
      Connections.dropCredentials("gcs-hmac")
    }
  }

  test("credential-less object-store fetch fails fast — no stub payload") {
    import graft.multimodal.Connections
    try {
      Connections.create("nocreds", "GCP")
      val ex = intercept[Exception] {
        Seq("gs://bucket/obj").toDF("url")
          .select(Connections.getObject(spark, "nocreds")(col("url")))
          .collect()
      }
      assert(ex.getMessage.contains("credentials") ||
        ex.getCause != null && ex.getCause.getMessage.contains("credentials"))
    } finally Connections.drop("nocreds")
  }

  test("LoopbackObjectStore verifies SigV4 presigns: wrong secret -> 403") {
    // the q83 server recomputes the signature from the request's own
    // Host/path/X-Amz-* params — a presign made with the WRONG secret
    // must 403 (fail-fast NonRetryable), the right one must serve bytes
    import graft.multimodal.{Connections, LoopbackObjectStore}
    val dir = tempDir("graft-loopback-spec")
    java.nio.file.Files.write(dir.resolve("obj.bin"), "s3-payload".getBytes)
    val good = Connections.ObjectStoreCredentials("LOOPAK", "loop-secret")
    val port = LoopbackObjectStore.port(dir, good)
    try {
      Connections.registerCredentials("loop_good", good)
      Connections.registerCredentials("loop_bad",
        Connections.ObjectStoreCredentials("LOOPAK", "WRONG-secret"))
      Connections.create("loopok", "AWS",
        endpoint = s"http://127.0.0.1:$port", credentialRef = "loop_good")
      Connections.create("loopbad", "AWS",
        endpoint = s"http://127.0.0.1:$port", credentialRef = "loop_bad")
      val got = Seq("s3://s3imgs/obj.bin").toDF("url")
        .select(Connections.getObject(spark, "loopok")(col("url")).as("obj"))
        .head().getAs[Array[Byte]](0)
      assert(new String(got, "UTF-8") === "s3-payload")
      val ex = intercept[org.apache.spark.SparkException] {
        Seq("s3://s3imgs/obj.bin").toDF("url")
          .select(Connections.getObject(spark, "loopbad")(col("url")))
          .head()
      }
      assert(ex.getCause != null && ex.getCause.getMessage.contains("403"))
      // plain-bucket leg serves without a signature
      assert(new String(Connections.httpFetch(
        s"http://127.0.0.1:$port/imgs/obj.bin"), "UTF-8") === "s3-payload")
    } finally {
      Seq("loopok", "loopbad").foreach(Connections.drop)
      Seq("loop_good", "loop_bad").foreach(Connections.dropCredentials)
    }
  }

  test("LoopbackObjectStore rejects EXPIRED presigns; gs:// leg round-trips") {
    import graft.multimodal.{Connections, LoopbackObjectStore, SigV4}
    val dir = tempDir("graft-loopback-exp")
    java.nio.file.Files.write(dir.resolve("g.bin"), "gs-payload".getBytes)
    val creds = Connections.ObjectStoreCredentials("LOOPAK2", "loop-secret-2")
    val port = LoopbackObjectStore.port(dir, creds)
    try {
      // a once-valid presign must NOT verify forever: correctly signed,
      // but X-Amz-Date + X-Amz-Expires is past (beyond the 60 s skew)
      val staleDate = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now().minusSeconds(3600))
      val staleUrl = SigV4.presignGet(s"127.0.0.1:$port", "/gsimgs/g.bin",
        creds.region, "s3", creds.accessKeyId, creds.secretAccessKey, "",
        staleDate, 300, "http")
      val ex = intercept[Exception] { Connections.httpFetch(staleUrl) }
      assert(ex.getMessage.contains("403"), s"expected 403, got: $ex")
      // the engine's gs:// route (isGs → path-style presign against the
      // connection endpoint) serves end-to-end against the gsimgs bucket
      Connections.registerCredentials("loop_gs", creds)
      Connections.create("loopgs", "GCS",
        endpoint = s"http://127.0.0.1:$port", credentialRef = "loop_gs")
      val got = Seq("gs://gsimgs/g.bin").toDF("url")
        .select(Connections.getObject(spark, "loopgs")(col("url")).as("obj"))
        .head().getAs[Array[Byte]](0)
      assert(new String(got, "UTF-8") === "gs-payload")
    } finally {
      Connections.drop("loopgs")
      Connections.dropCredentials("loop_gs")
    }
  }

}
