package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files
import java.util.zip.{CRC32, Deflater}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import net.jpountz.lz4.LZ4FrameOutputStream

/** Deterministic ROS bag v2.0 generator for the ingest workloads.
  *
  * Writes bags from the public record grammar (magic line, bag header,
  * connection records, chunks of message records under none/lz4/bz2) and
  * returns a [[Manifest]] of what the ingest must land: rows per output
  * table, frames per (bag, topic), and every expected PNG file with the
  * recipe to rebuild its source pixels. The same (kind, seed) always gives
  * the same bytes.
  */
object BagGen {

  /** One camera frame: where it lands and how to rebuild its pixels. */
  final case class Frame(bag: String, topic: String, frameNo: Int, timeNs: Long,
      width: Int, height: Int, channels: Int, seed: Long,
      box: Option[(Int, Int, Int, Int)]) {
    def pixels: Array[Byte] = framePixels(width, height, channels, seed)
    /** The PNG name the ingest derives from (topic, iso second, frame_no). */
    def fileName: String = {
      val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH_mm_ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(Math.floorDiv(timeNs, 1000000000L)))
      f"${topic.stripPrefix("/")}-$iso-$frameNo%04d.png"
    }
  }

  final case class Manifest(kind: String, seed: Long, bags: Seq[File],
      tableRows: Map[String, Long], framesPerTopic: Map[(String, String), Long],
      frames: Seq[Frame], messages: Long, rawPixelBytes: Long, pngPayloadBytes: Long) {
    def bagBytes: Long = bags.map(_.length).sum
    def toJson: String = {
      val rows = Json.obj(tableRows.map { case (k, v) => k -> v.toDouble })
      val fpt = Json.obj(framesPerTopic.map { case ((b, t), n) => s"$b$t" -> n.toDouble })
      val ratio = if (rawPixelBytes == 0) 0.0 else pngPayloadBytes.toDouble / rawPixelBytes
      s"""{"kind": ${Json.str(kind)}, "seed": $seed, "bags": ${bags.size}, "bag_bytes": $bagBytes, """ +
        s""""messages": $messages, "table_rows": $rows, "frames_per_topic": $fpt, """ +
        s""""png_files": ${frames.size}, "compressed_png_ratio": $ratio}"""
    }
  }

  // ---- record grammar ----

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def field(name: String, value: Array[Byte]): Array[Byte] =
    le32(name.length + 1 + value.length) ++ name.getBytes(ISO_8859_1) ++ Array('='.toByte) ++ value

  private def record(out: ByteArrayOutputStream, fields: Seq[Array[Byte]], data: Array[Byte]): Unit = {
    val header = fields.flatten.toArray
    out.write(le32(header.length)); out.write(header)
    out.write(le32(data.length)); out.write(data)
  }

  private def timeField(ns: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putInt((ns / 1000000000L).toInt).putInt((ns % 1000000000L).toInt).array()

  final case class Conn(id: Int, topic: String, datatype: String, msgDef: String = "")

  /** Accumulates one bag: connections up front, messages packed into
    * chunks of about `chunkBytes` under `codec`. */
  final class BagWriter(codec: String, chunkBytes: Int = 1 << 20) {
    private val out = new ByteArrayOutputStream()
    private var chunk = new ByteArrayOutputStream()
    out.write("#ROSBAG V2.0\n".getBytes(ISO_8859_1))
    record(out, Seq(field("op", Array(3.toByte)), field("index_pos", new Array[Byte](8)),
      field("conn_count", le32(0)), field("chunk_count", le32(0))), new Array[Byte](64))

    def connection(c: Conn): Unit = {
      val data = field("topic", c.topic.getBytes(UTF_8)) ++ field("type", c.datatype.getBytes(UTF_8)) ++
        field("md5sum", "*".getBytes(UTF_8)) ++ field("message_definition", c.msgDef.getBytes(UTF_8))
      record(out, Seq(field("op", Array(7.toByte)), field("conn", le32(c.id)),
        field("topic", c.topic.getBytes(UTF_8))), data)
    }

    def message(c: Conn, timeNs: Long, payload: Array[Byte]): Unit = {
      record(chunk, Seq(field("op", Array(2.toByte)), field("conn", le32(c.id)),
        field("time", timeField(timeNs))), payload)
      if (chunk.size >= chunkBytes) flush()
    }

    private def flush(): Unit = if (chunk.size > 0) {
      val inner = chunk.toByteArray
      val bos = new ByteArrayOutputStream()
      val data = codec match {
        case "none" => inner
        case "bz2" =>
          val z = new BZip2CompressorOutputStream(bos); z.write(inner); z.close(); bos.toByteArray
        case "lz4" =>
          val z = new LZ4FrameOutputStream(bos, LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB)
          z.write(inner); z.close(); bos.toByteArray
      }
      record(out, Seq(field("op", Array(5.toByte)), field("compression", codec.getBytes(UTF_8)),
        field("size", le32(inner.length))), data)
      chunk = new ByteArrayOutputStream()
    }

    def writeTo(f: File): Unit = { flush(); Files.write(f.toPath, out.toByteArray) }
  }

  // ---- message payloads (public ROS 1 layouts, little-endian) ----

  private final class Payload(cap: Int) {
    val b: ByteBuffer = ByteBuffer.allocate(cap).order(ByteOrder.LITTLE_ENDIAN)
    def str(s: String): Payload = { val a = s.getBytes(UTF_8); b.putInt(a.length).put(a); this }
    def header(seq: Int, ns: Long, frame: String): Payload = {
      b.putInt(seq).put(timeField(ns)); str(frame)
    }
    def bytes(a: Array[Byte]): Payload = { b.putInt(a.length).put(a); this }
    def result: Array[Byte] = java.util.Arrays.copyOf(b.array(), b.position())
  }

  private def imageMsg(seq: Int, ns: Long, w: Int, h: Int, enc: String, ch: Int, px: Array[Byte]) = {
    val p = new Payload(px.length + 128).header(seq, ns, "camera")
    p.b.putInt(h).putInt(w); p.str(enc); p.b.put(0.toByte).putInt(w * ch)
    p.bytes(px).result
  }

  private def compressedMsg(seq: Int, ns: Long, png: Array[Byte]) =
    new Payload(png.length + 128).header(seq, ns, "camera").str("png").bytes(png).result

  private def odometryMsg(seq: Int, ns: Long, t: Double) = {
    val p = new Payload(1024).header(seq, ns, "odom").str("base_link")
    val yaw = 0.1 * t
    p.b.putDouble(3.0 * t).putDouble(math.sin(0.2 * t)).putDouble(0.0)
    p.b.putDouble(0.0).putDouble(0.0).putDouble(math.sin(yaw / 2)).putDouble(math.cos(yaw / 2))
    (0 until 36).foreach(_ => p.b.putDouble(0.0))
    p.b.putDouble(3.0).putDouble(0.2 * math.cos(0.2 * t)).putDouble(0.0)
    p.b.putDouble(0.0).putDouble(0.0).putDouble(0.1)
    (0 until 36).foreach(_ => p.b.putDouble(0.0))
    p.result
  }

  private def laserMsg(seq: Int, ns: Long, rng: java.util.Random, beams: Int) = {
    val p = new Payload(64 + 8 * beams).header(seq, ns, "laser")
    p.b.putFloat(-3.14f).putFloat(3.14f).putFloat(6.28f / beams).putFloat(0.0f)
      .putFloat(0.025f).putFloat(0.1f).putFloat(30.0f)
    p.b.putInt(beams)
    (0 until beams).foreach(i => p.b.putFloat(5.0f + 3.0f * math.sin(i * 0.05).toFloat + rng.nextFloat()))
    p.b.putInt(0)
    p.result
  }

  private def wrenchMsg(rng: java.util.Random) = {
    val p = new Payload(48)
    (0 until 6).foreach(_ => p.b.putDouble(rng.nextGaussian()))
    p.result
  }

  private def float64Msg(v: Double) = { val p = new Payload(8); p.b.putDouble(v); p.result }

  private val StatusType = "perfbench_msgs/VehicleStatus"
  private val StatusDef =
    "Header header\nuint8 gear\nfloat64 speed\nstring mode\nfloat32[4] wheel_speed\nint32[] faults\n" +
      "================================================================================\n" +
      "MSG: std_msgs/Header\nuint32 seq\ntime stamp\nstring frame_id\n"

  private def statusMsg(seq: Int, ns: Long, rng: java.util.Random) = {
    val p = new Payload(256).header(seq, ns, "vehicle")
    p.b.put((1 + rng.nextInt(5)).toByte).putDouble(rng.nextDouble() * 30)
    p.str(if (rng.nextBoolean()) "auto" else "manual")
    (0 until 4).foreach(_ => p.b.putFloat(rng.nextFloat() * 10))
    val nf = rng.nextInt(3); p.b.putInt(nf); (0 until nf).foreach(_ => p.b.putInt(rng.nextInt(100)))
    p.result
  }

  private def audioInfoMsg(rate: Int) = {
    val p = new Payload(64); p.b.put(1.toByte).putInt(rate); p.str("S16LE"); p.b.putInt(0); p.str("wave")
    p.result
  }

  private def audioDataMsg(rng: java.util.Random, samples: Int, t0: Double, rate: Int) = {
    val pcm = ByteBuffer.allocate(2 * samples).order(ByteOrder.LITTLE_ENDIAN)
    (0 until samples).foreach { i =>
      val t = t0 + i.toDouble / rate
      pcm.putShort((3000 * math.sin(2 * math.Pi * 440 * t) + 200 * rng.nextGaussian()).toShort)
    }
    new Payload(2 * samples + 8).bytes(pcm.array()).result
  }

  // ---- pixels ----

  /** Smooth synthetic scene: two gradients, a soft moving blob and mild
    * sensor noise, so frames compress like camera frames do rather than
    * like noise or flat colour. */
  def framePixels(w: Int, h: Int, ch: Int, seed: Long): Array[Byte] = {
    val rng = new java.util.Random(seed)
    // every value stays inside 3..250, so no region saturates and a blur
    // always changes some pixel
    val (gx, gy) = (rng.nextInt(40) + 20, rng.nextInt(40) + 20)
    val (cx, cy, r) = (rng.nextInt(w), rng.nextInt(h), 20 + rng.nextInt(h / 3))
    val out = new Array[Byte](w * h * ch)
    var state = seed | 1L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val dx = x - cx; val dy = y - cy
        val blob = 60.0 * math.exp(-(dx * dx + dy * dy).toDouble / (2.0 * r * r))
        var c = 0
        while (c < ch) {
          state = state * 6364136223846793005L + 1442695040888963407L
          val noise = ((state >>> 61) - 3).toInt
          val v = 10 + (x * gx / w + y * gy / h + c * 20 + blob).toInt + noise
          out((y * w + x) * ch + c) = v.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** PNG bytes (Sub filter, zlib) for the CompressedImage topics — a
    * writer of the benchmark's own so the inputs do not depend on the
    * program's encoder. */
  def png(px: Array[Byte], w: Int, h: Int, ch: Int): Array[Byte] = {
    val stride = w * ch
    val raw = new Array[Byte](h * (stride + 1))
    var y = 0
    while (y < h) {
      val o = y * (stride + 1)
      raw(o) = 1
      var i = 0
      while (i < stride) {
        val left = if (i >= ch) px(y * stride + i - ch) else 0.toByte
        raw(o + 1 + i) = (px(y * stride + i) - left).toByte
        i += 1
      }
      y += 1
    }
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val z = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(ByteBuffer.allocate(4).putInt(data.length).array())
      val t = typ.getBytes(ISO_8859_1)
      out.write(t); out.write(data)
      val crc = new CRC32(); crc.update(t); crc.update(data)
      out.write(ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val colorType = if (ch == 1) 0 else 2
    chunk("IHDR", ByteBuffer.allocate(13).putInt(w).putInt(h).put(8.toByte)
      .put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ---- workloads ----

  private val BaseSec = 1700000000L

  /** One generated bag and what it adds to the manifest. */
  private final case class Bag(file: File, frames: Seq[Frame], rows: Map[String, Long],
      messages: Long, rawBytes: Long, pngBytes: Long)

  /** Bags 0 until n, generated in parallel; bag b draws from its own RNG. */
  private def bagsInParallel(n: Int, seed: Long)(gen: (Int, java.util.Random) => Bag): Seq[Bag] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse((0 until n).toList)(b => Future(gen(b, new java.util.Random(seed * 1000003L + b)))),
      scala.concurrent.duration.Duration.Inf)
  }

  /** A drive log: camera bags and telemetry bags side by side in `dir`,
    * as one ingest input. Its manifest is also written as `manifest.json`
    * beside them. */
  def drive(dir: File, seed: Long, cameraBags: Int, framesPerTopic: Int, width: Int, height: Int,
      telemetryBags: Int, seconds: Int): Manifest = {
    dir.mkdirs()
    manifest("drive", seed, dir,
      camera(dir, seed, cameraBags, framesPerTopic, width, height) ++ telemetry(dir, seed, telemetryBags, seconds))
  }

  private def manifest(kind: String, seed: Long, dir: File, bags: Seq[Bag]): Manifest = {
    val frames = bags.flatMap(_.frames)
    val rows = bags.flatMap(_.rows).groupMapReduce(_._1)(_._2)(_ + _)
    val m = Manifest(kind, seed, bags.map(_.file), rows,
      frames.groupBy(f => (f.bag, f.topic)).map { case (k, v) => k -> v.size.toLong },
      frames, bags.map(_.messages).sum, bags.map(_.rawBytes).sum, bags.map(_.pngBytes).sum)
    Files.writeString(new File(dir, "manifest.json").toPath, m.toJson)
    m
  }

  /** Camera bags: raw rgb8 and mono8 Image topics, one CompressedImage
    * (PNG) topic and a 10 Hz odometry topic; chunks alternate none/lz4.
    * About a quarter of the frames get one blur region. Each bag lands
    * one trajectory row. */
  private def camera(dir: File, seed: Long, bags: Int, framesPerTopic: Int,
      width: Int, height: Int): Seq[Bag] = {
    val cams = Seq(("/cam_front/image_raw", 3, false), ("/cam_mono/image_raw", 1, false),
      ("/cam_rear/image/compressed", 3, true))
    bagsInParallel(bags, seed) { (b, rng) =>
      val name = f"camera_$b%02d.bag"
      val w = new BagWriter(if (b % 2 == 0) "none" else "lz4")
      val conns = cams.zipWithIndex.map { case ((t, _, c), i) =>
        Conn(i, t, if (c) "sensor_msgs/CompressedImage" else "sensor_msgs/Image") }
      val odom = Conn(cams.size, "/odom", "nav_msgs/Odometry")
      (conns :+ odom).foreach(w.connection)
      val t0 = (BaseSec + 3600L * b) * 1000000000L
      val frames = Seq.newBuilder[Frame]
      var (rawBytes, pngBytes) = (0L, 0L)
      (0 until framesPerTopic).foreach { i =>
        cams.zip(conns).foreach { case ((topic, ch, compressed), conn) =>
          val ns = t0 + i * 100000000L + conn.id * 1000000L
          val pxSeed = rng.nextLong()
          val box = if (rng.nextInt(4) == 0) {
            val bw = 20 + rng.nextInt(width / 4); val bh = 20 + rng.nextInt(height / 4)
            Some((rng.nextInt(width - bw), rng.nextInt(height - bh), bw, bh))
          } else None
          val f = Frame(name, topic, i, ns, width, height, ch, pxSeed, box)
          val px = f.pixels
          rawBytes += px.length
          val payload =
            if (compressed) { val p = png(px, width, height, ch); pngBytes += p.length; compressedMsg(i, ns, p) }
            else imageMsg(i, ns, width, height, if (ch == 1) "mono8" else "rgb8", ch, px)
          w.message(conn, ns, payload)
          frames += f
        }
        w.message(odom, t0 + i * 100000000L + 50000000L, odometryMsg(i, t0, i * 0.1))
      }
      val f = new File(dir, name); w.writeTo(f)
      val fs = frames.result()
      Bag(f, fs, Map("images" -> fs.size.toLong, "manifest" -> fs.size.toLong,
        "odometry" -> framesPerTopic.toLong, "trajectory" -> 1L), fs.size.toLong + framesPerTopic,
        rawBytes, pngBytes)
    }
  }

  /** Telemetry bags: LaserScan 20 Hz, Odometry 50 Hz, Wrench 100 Hz,
    * std_msgs/Float64 20 Hz, a custom type known only by its
    * message_definition at 20 Hz and a 16 kHz audio_common microphone in
    * 100 ms buffers; chunks alternate bz2/lz4. Each bag lands one
    * trajectory row. */
  private def telemetry(dir: File, seed: Long, bags: Int, seconds: Int): Seq[Bag] = {
    val rate = 16000
    bagsInParallel(bags, seed) { (b, rng) =>
      val name = f"telemetry_$b%02d.bag"
      val w = new BagWriter(if (b % 2 == 0) "bz2" else "lz4", chunkBytes = 256 << 10)
      val scan = Conn(0, "/scan", "sensor_msgs/LaserScan")
      val odom = Conn(1, "/odom", "nav_msgs/Odometry")
      val wrench = Conn(2, "/ft_sensor", "geometry_msgs/Wrench")
      val batt = Conn(3, "/battery/voltage", "std_msgs/Float64")
      val status = Conn(4, "/vehicle/status", StatusType, StatusDef)
      val info = Conn(5, "/mic/audio_info", "audio_common_msgs/AudioInfo")
      val audio = Conn(6, "/mic/audio", "audio_common_msgs/AudioData")
      Seq(scan, odom, wrench, batt, status, info, audio).foreach(w.connection)
      val t0 = (BaseSec + 3600L * b) * 1000000000L
      val rows = scala.collection.mutable.Map[String, Long]("trajectory" -> 1L).withDefaultValue(0L)
      var msgs = 0L
      def emit(c: Conn, table: String, ns: Long, p: Array[Byte]): Unit = {
        w.message(c, ns, p); rows(table) += 1; msgs += 1
      }
      emit(info, "", t0, audioInfoMsg(rate))
      // 10 ms ticks; each topic publishes on its own divisor
      (0 until seconds * 100).foreach { tick =>
        val ns = t0 + tick * 10000000L
        val t = tick / 100.0
        emit(wrench, "wrench", ns + 1000, wrenchMsg(rng))
        if (tick % 2 == 0) emit(odom, "odometry", ns + 2000, odometryMsg(tick, ns, t))
        if (tick % 5 == 0) emit(batt, "std_msgs", ns + 3000, float64Msg(48.0 - t * 0.01 + rng.nextGaussian() * 0.05))
        if (tick % 5 == 1) emit(status, "generic", ns + 4000, statusMsg(tick, ns, rng))
        if (tick % 10 == 0) emit(audio, "clips", ns + 5000, audioDataMsg(rng, rate / 10, t, rate))
        if (tick % 5 == 2) emit(scan, "laser", ns + 6000, laserMsg(tick, ns, rng, 360))
      }
      val f = new File(dir, name); w.writeTo(f)
      Bag(f, Nil, rows.toMap - "", msgs, 0L, 0L)
    }
  }
}
