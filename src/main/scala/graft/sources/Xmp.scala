package graft.sources

/** Minimal XMP reader for drone JPEG metadata — the subset the
  * reference pulls through Exiv2's XMP support (`entry.cpp:190-260`):
  * relative altitude and camera yaw/pitch/roll from the drone-dji (and
  * compatible) namespaces. The XMP packet is plain XML in a JPEG APP1
  * segment with the adobe namespace header; values appear either as
  * XML attributes or element text, so both forms are matched.
  */
object Xmp {

  final case class XmpData(
      relativeAltitude: Option[Double],
      gimbalYaw: Option[Double],
      gimbalPitch: Option[Double],
      gimbalRoll: Option[Double],
      // DJI flight-speed vector (exif.cpp:696-708, priority 1)
      flightXSpeed: Option[Double] = None,
      flightYSpeed: Option[Double] = None,
      flightZSpeed: Option[Double] = None,
      // Camera-namespace GPS accuracy (senseFly/Parrot/MicaSense) +
      // DJI RTK standard deviations (exif.cpp:745-780)
      gpsXYAccuracy: Option[Double] = None,
      gpsZAccuracy: Option[Double] = None,
      rtkStdLon: Option[Double] = None,
      rtkStdLat: Option[Double] = None,
      rtkStdHgt: Option[Double] = None
  )

  val empty: XmpData = XmpData(None, None, None, None)

  private val Header = "http://ns.adobe.com/xap/1.0/".getBytes("US-ASCII")

  /** Find the XMP packet in JPEG APP1 segments. */
  def packetFromJpeg(bytes: Array[Byte]): Option[String] = {
    def from(i: Int): Int = i + 4 + Header.length + 1 // past the NUL after the namespace URI
    def to(i: Int): Int = math.min(bytes.length, i + 2 + Bytes.be16(bytes, i + 2))
    val at = Bytes.jpegSegment(bytes) { (marker, i) =>
      val headEnd = i + 4 + Header.length
      marker == 0xe1 && headEnd < bytes.length &&
      java.util.Arrays.equals(bytes, i + 4, headEnd, Header, 0, Header.length) && from(i) < to(i)
    }
    if (at < 0) None else Some(new String(bytes, from(at), to(at) - from(at), "UTF-8"))
  }

  private def grab(xml: String, field: String): Option[Double] = {
    // attribute form: drone-dji:RelativeAltitude="+123.45"
    val attr = ("(?i)" + field + "\\s*=\\s*\"([+-]?\\d+(?:\\.\\d+)?)\"").r
    // element form: <drone-dji:RelativeAltitude>+123.45</...>
    val elem = ("(?i)" + field + "\\s*>\\s*([+-]?\\d+(?:\\.\\d+)?)\\s*<").r
    attr.findFirstMatchIn(xml).orElse(elem.findFirstMatchIn(xml))
      .flatMap(m => try Some(m.group(1).toDouble) catch { case _: Exception => None })
  }

  def parse(xml: String): XmpData =
    if (xml == null || xml.isEmpty) empty
    else XmpData(
      relativeAltitude = grab(xml, "RelativeAltitude"),
      // fallback order per exif.cpp:669-671: drone-dji gimbal tags,
      // then FlightYawDegree (yaw only), then the Camera namespace
      gimbalYaw = grab(xml, "GimbalYawDegree").orElse(grab(xml, "FlightYawDegree"))
        .orElse(grab(xml, "Camera:Yaw")),
      gimbalPitch = grab(xml, "GimbalPitchDegree").orElse(grab(xml, "Camera:Pitch")),
      gimbalRoll = grab(xml, "GimbalRollDegree").orElse(grab(xml, "Camera:Roll")),
      flightXSpeed = grab(xml, "FlightXSpeed"),
      flightYSpeed = grab(xml, "FlightYSpeed"),
      flightZSpeed = grab(xml, "FlightZSpeed"),
      gpsXYAccuracy = grab(xml, "GPSXYAccuracy"),
      gpsZAccuracy = grab(xml, "GPSZAccuracy"),
      rtkStdLon = grab(xml, "RtkStdLon"),
      rtkStdLat = grab(xml, "RtkStdLat"),
      rtkStdHgt = grab(xml, "RtkStdHgt")
    )

  def fromJpeg(bytes: Array[Byte]): XmpData =
    packetFromJpeg(bytes).map(parse).getOrElse(empty)
}
