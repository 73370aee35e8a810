package graft.perfbench

import java.io.{ByteArrayInputStream, File}
import java.nio.file.Files

import graft.multimodal.{PixelKernels, PngDecoder, PngEncoder}
import graft.sources.rosbag.{RosMessages, RosMsgDef, RosbagFormat}

/** Single-thread kernel probes over a workload's own inputs. Spark's task
  * metrics lump these layers into executor run time; timing direct calls
  * separates them. Each probe repeats its pass until it has run for at
  * least `minSeconds` and reports the median pass.
  */
object Probes {

  /** Seconds per pass of `f`, median over repeated passes. */
  private def timed(minSeconds: Double)(f: => Unit): Double = {
    val passes = Seq.newBuilder[Double]
    val start = System.nanoTime()
    var n = 0
    while (n < 3 || (System.nanoTime() - start) / 1e9 < minSeconds) {
      val t0 = System.nanoTime(); f; passes += (System.nanoTime() - t0) / 1e9; n += 1
    }
    Main.median(passes.result())
  }

  private def decode(m: RosbagFormat.BagMessage,
      defs: collection.mutable.Map[String, Map[String, Seq[RosMsgDef.Field]]]): Unit =
    m.datatype match {
      case "sensor_msgs/Image"           => RosMessages.image(m.data)
      case "sensor_msgs/CompressedImage" => RosMessages.compressedImage(m.data)
      case "sensor_msgs/LaserScan"       => RosMessages.laserScan(m.data)
      case "nav_msgs/Odometry"           => RosMessages.odometry(m.data)
      case "geometry_msgs/Wrench"        => RosMessages.wrench(m.data)
      case "std_msgs/Float64"            => RosMessages.stdFloat64(m.data)
      case "audio_common_msgs/AudioInfo" => RosMessages.audioInfo(m.data)
      case "audio_common_msgs/AudioData" => RosMessages.audioData(m.data)
      case t if m.msgDef.nonEmpty =>
        RosMsgDef.deserialize(t, defs.getOrElseUpdate(t, RosMsgDef.parse(t, m.msgDef)), m.data)
      case t => throw new IllegalArgumentException(s"no decoder for $t")
    }

  /** `rosbag.*`: parse every bag from memory, then decode every message. */
  def rosbag(bags: Seq[File], minSeconds: Double): Map[String, Double] = {
    if (bags.isEmpty) return Map("rosbag.parse_mb_s" -> 0.0, "rosbag.parse_us_per_msg" -> 0.0,
      "rosbag.messages" -> 0.0, "rosbag.decode_us_per_msg" -> 0.0, "rosbag.failed" -> 0.0)
    val bytes = bags.map(f => Files.readAllBytes(f.toPath))
    val msgs = bytes.flatMap(b => RosbagFormat.iterator(new ByteArrayInputStream(b)).toVector)
    val parseS = timed(minSeconds) {
      bytes.foreach(b => RosbagFormat.iterator(new ByteArrayInputStream(b)).foreach(_ => ()))
    }
    var failed = 0
    val defs = collection.mutable.Map.empty[String, Map[String, Seq[RosMsgDef.Field]]]
    msgs.foreach(m => try decode(m, defs) catch { case _: Exception => failed += 1 })
    val decodeS = timed(minSeconds) {
      msgs.foreach(m => try decode(m, defs) catch { case _: Exception => () })
    }
    Map("rosbag.parse_mb_s" -> bytes.map(_.length.toLong).sum / 1e6 / parseS,
      "rosbag.parse_us_per_msg" -> parseS * 1e6 / msgs.size,
      "rosbag.messages" -> msgs.size.toDouble,
      "rosbag.decode_us_per_msg" -> decodeS * 1e6 / msgs.size,
      "rosbag.failed" -> failed.toDouble)
  }

  /** `multimodal.*`: PNG encode and decode over raw frames, and region blur
    * over the frames that carry a blur box. */
  def multimodal(frames: Seq[BagGen.Frame], minSeconds: Double): Map[String, Double] = {
    if (frames.isEmpty) return Map("multimodal.png_encode_mb_s" -> 0.0,
      "multimodal.png_decode_mb_s" -> 0.0, "multimodal.blur_ms_per_frame" -> 0.0)
    val raw = frames.map(f => (f, f.pixels))
    def enc(f: BagGen.Frame) = if (f.channels == 1) "mono8" else "rgb8"
    val pngs = raw.map { case (f, px) => PngEncoder.encode(px, f.width, f.height, enc(f)) }
    val mb = raw.map(_._2.length.toLong).sum / 1e6
    val encodeS = timed(minSeconds) {
      raw.foreach { case (f, px) => PngEncoder.encode(px, f.width, f.height, enc(f)) }
    }
    val decodeS = timed(minSeconds)(pngs.foreach(PngDecoder.decode))
    val boxed = raw.filter(_._1.box.isDefined)
    val blurS = timed(minSeconds) {
      boxed.foreach { case (f, px) =>
        val (x, y, w, h) = f.box.get
        PixelKernels.blurRegions(px, f.width, f.height, f.channels, f.width * f.channels,
          Seq((x, y, x + w, y + h)), 15.0)
      }
    }
    Map("multimodal.png_encode_mb_s" -> mb / encodeS,
      "multimodal.png_decode_mb_s" -> mb / decodeS,
      "multimodal.blur_ms_per_frame" -> (if (boxed.isEmpty) 0.0 else blurS * 1e3 / boxed.size))
  }
}
