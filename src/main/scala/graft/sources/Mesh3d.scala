package graft.sources

import scala.collection.mutable.ArrayBuffer

import graft.core.MiniJson
import graft.sources.Bytes.le32u

/** 3D-model dependency extraction — reference `3d.cpp:93-598`: the
  * OBJ/MTL texture-dependency walk (`getObjDependencies`: every
  * `mtllib` line — leading whitespace tolerated, quoted names
  * unwrapped — then each MTL's texture map keys) and the glTF/GLB
  * buffer+image URI walk (`getGltfDependencies` / `readGlbJson` with
  * the reference's named container errors; data:/absolute/unsafe URIs
  * skipped). These dependency lists feed the build scheduler
  * ([[graft.core]] Builds / Cleanup) — the reference validates them
  * before every nexus/3d-tiles build (`validateDependencies`).
  *
  * Pure text/bytes in, names out — one model file is one task-local
  * parse in an estate scan, like every other extractor here.
  */
object Mesh3d {

  /** MTL texture/map statement keys (`3d.cpp:542-555`). */
  val MtlKeys: Seq[String] = Seq(
    "map_Ka", "map_Kd", "map_Ks", "map_Ns", "map_d", "disp", "decal",
    "bump", "map_bump", "refl", "map_Pr", "map_Pm", "map_Ps", "map_Ke"
  )

  private val FileNamePattern =
    java.util.regex.Pattern.compile("\"([^\"]+\\.[^\\s\"]+)\"|\\b([^\" \\t]+\\.[^\\s\"]+)\\b")

  /** First filename-looking token, quoted or bare (`3d.cpp:515-531`). */
  def extractFileName(input: String): Option[String] = {
    val m = FileNamePattern.matcher(input)
    if (!m.find()) None
    else if (m.group(1) != null) Some(m.group(1))
    else Option(m.group(2))
  }

  /** OBJ → dependency names: each mtllib (in order, quoted names
    * unwrapped, leading spaces fine), followed by the MTL's texture
    * files. `mtlOf` resolves an MTL name to its text (None = missing
    * MTL: the name is still a dependency, its textures are unknown —
    * exactly the reference's skip). */
  def objDependencies(objText: String, mtlOf: String => Option[String]): Seq[String] = {
    val deps = new ArrayBuffer[String]()
    objText.linesIterator.foreach { line =>
      val pos = line.indexOf("mtllib")
      if (pos >= 0) {
        var mtl = line.substring(pos + 6).trim
        if (mtl.length >= 2 && mtl.head == '"' && mtl.last == '"') mtl = mtl.substring(1, mtl.length - 1)
        deps += mtl
        mtlOf(mtl).foreach { mtlText =>
          mtlText.linesIterator.foreach { mtlLine =>
            MtlKeys.foreach { key =>
              val kp = mtlLine.indexOf(key)
              if (kp >= 0) extractFileName(mtlLine.substring(kp + key.length)).foreach(deps += _)
            }
          }
        }
      }
    }
    deps.toSeq
  }

  private def isDataUri(uri: String): Boolean = uri.startsWith("data:")
  private def isAbsoluteUri(uri: String): Boolean =
    uri.contains("://") || uri.startsWith("/") || (uri.length >= 2 && uri(1) == ':')
  private def isSafePath(uri: String): Boolean =
    !uri.replace('\\', '/').split("/", -1).contains("..")

  /** glTF JSON → buffer + image URIs (relative, safe; data:/absolute/
    * traversal URIs skipped — `3d.cpp:93-143`). */
  def gltfDependencies(jsonText: String): Seq[String] = {
    val root =
      try MiniJson.obj(MiniJson.parse(jsonText))
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"Invalid GLTF file: JSON parse error: ${e.getMessage}")
      }
    if (!root.contains("asset"))
      throw new IllegalArgumentException("Invalid GLTF file: missing 'asset' property")
    def uris(section: String): Seq[String] =
      root.get(section).toSeq.flatMap(v => MiniJson.arr(v)).flatMap { item =>
        MiniJson.obj(item).get("uri").collect { case s: String => s }
      }
    (uris("buffers") ++ uris("images"))
      .filterNot(isDataUri)
      .filterNot(isAbsoluteUri)
      .filter(isSafePath)
  }

  /** GLB container → the JSON chunk text (`3d.cpp:146-196` errors). */
  def glbJson(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 12)
      throw new IllegalArgumentException("Invalid GLB file: cannot read header")
    if (le32u(bytes, 0) != 0x46546c67L)
      throw new IllegalArgumentException("Invalid GLB file: incorrect magic number")
    if (le32u(bytes, 4) != 2L)
      throw new IllegalArgumentException(s"Unsupported GLB version: ${le32u(bytes, 4)}")
    if (bytes.length < 20)
      throw new IllegalArgumentException("Invalid GLB file: cannot read chunk header")
    val chunkLen = le32u(bytes, 12).toInt
    if (le32u(bytes, 16) != 0x4e4f534aL)
      throw new IllegalArgumentException("Invalid GLB file: first chunk is not JSON")
    if (bytes.length < 20 + chunkLen)
      throw new IllegalArgumentException("Invalid GLB file: cannot read JSON chunk")
    new String(bytes, 20, chunkLen, "UTF-8")
  }

  /** GLB container → the BIN chunk bytes (chunk 1, type 0x004E4942),
    * empty when absent. Same bounds discipline as [[glbJson]]. */
  def glbBin(bytes: Array[Byte]): Array[Byte] = {
    glbJson(bytes) // header + JSON chunk validation
    val jsonLen = le32u(bytes, 12).toInt
    var at = 20 + jsonLen
    while (at + 8 <= bytes.length && at + 8 <= le32u(bytes, 8)) {
      val len = le32u(bytes, at).toInt
      val tpe = le32u(bytes, at + 4)
      if (tpe == 0x004e4942L) {
        require(at + 8 + len <= bytes.length, "Invalid GLB file: BIN chunk overruns")
        return java.util.Arrays.copyOfRange(bytes, at + 8, at + 8 + len)
      }
      at += 8 + len
    }
    Array.emptyByteArray
  }

  /** Assemble a GLB 2.0 container: 12-byte header, JSON chunk padded
    * to 4 with 0x20, BIN chunk padded to 4 with 0x00 (the glTF 2.0
    * binary container layout). */
  def writeGlb(json: String, bin: Array[Byte]): Array[Byte] = {
    val jb0 = json.getBytes("UTF-8")
    val jpad = (4 - jb0.length % 4) % 4
    val jb = jb0 ++ Array.fill(jpad)(' '.toByte)
    val bpad = (4 - bin.length % 4) % 4
    val bb = bin ++ new Array[Byte](bpad)
    val total = 12 + 8 + jb.length + (if (bin.nonEmpty) 8 + bb.length else 0)
    val out = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putInt(0x46546c67) // "glTF"
    out.putInt(2)
    out.putInt(total)
    out.putInt(jb.length)
    out.putInt(0x4e4f534a) // "JSON"
    out.put(jb)
    if (bin.nonEmpty) {
      out.putInt(bb.length)
      out.putInt(0x004e4942) // "BIN\0"
      out.put(bb)
    }
    out.array()
  }

  /** Minimal triangle-mesh GLB: one buffer (uint32 indices then
    * float32 XYZ positions), two bufferViews/accessors, one
    * primitive. The shape `buildlod`/`obj2tiles` runners emit per
    * tile, re-expressed as a self-contained encoder. */
  def writeMeshGlb(positions: Array[Float], indices: Array[Int]): Array[Byte] = {
    require(positions.length % 3 == 0, "positions must be xyz triples")
    val nV = positions.length / 3
    val nI = indices.length
    val ib = nI * 4
    val pb = positions.length * 4
    val buf = java.nio.ByteBuffer.allocate(ib + pb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    indices.foreach(buf.putInt)
    positions.foreach(buf.putFloat)
    def axisMinMax(axis: Int): (Float, Float) = {
      var mn = Float.MaxValue; var mx = Float.MinValue
      var i = axis
      while (i < positions.length) {
        if (positions(i) < mn) mn = positions(i)
        if (positions(i) > mx) mx = positions(i)
        i += 3
      }
      if (nV == 0) (0f, 0f) else (mn, mx)
    }
    val (xn, xx) = axisMinMax(0); val (yn, yx) = axisMinMax(1); val (zn, zx) = axisMinMax(2)
    def f(v: Float): String = if (v == v.toLong.toFloat) v.toLong.toString else v.toString
    val json =
      s"""{"asset":{"version":"2.0"},"scene":0,"scenes":[{"nodes":[0]}],"nodes":[{"mesh":0}],""" +
        s""""meshes":[{"primitives":[{"attributes":{"POSITION":1},"indices":0,"mode":4}]}],""" +
        s""""buffers":[{"byteLength":${ib + pb}}],""" +
        s""""bufferViews":[{"buffer":0,"byteOffset":0,"byteLength":$ib,"target":34963},""" +
        s"""{"buffer":0,"byteOffset":$ib,"byteLength":$pb,"target":34962}],""" +
        s""""accessors":[{"bufferView":0,"componentType":5125,"count":$nI,"type":"SCALAR"},""" +
        s"""{"bufferView":1,"componentType":5126,"count":$nV,"type":"VEC3",""" +
        s""""min":[${f(xn)},${f(yn)},${f(zn)}],"max":[${f(xx)},${f(yx)},${f(zx)}]}]}"""
    writeGlb(json, buf.array())
  }

  /** Decode a [[writeMeshGlb]]-shaped GLB back to (positions,
    * indices) — follows accessors/bufferViews, so any single-buffer
    * uint32/float32 triangle GLB reads, not just our own bytes. */
  def readMeshGlb(bytes: Array[Byte]): (Array[Float], Array[Int]) = {
    import graft.core.MiniJson
    val root = MiniJson.obj(MiniJson.parse(glbJson(bytes)))
    val bin = glbBin(bytes)
    val views = MiniJson.arr(root("bufferViews")).map(MiniJson.obj)
    val accs = MiniJson.arr(root("accessors")).map(MiniJson.obj)
    val prim = MiniJson.obj(
      MiniJson.arr(MiniJson.obj(MiniJson.arr(root("meshes")).head)("primitives")).head
    )
    val posAcc = accs(MiniJson.num(MiniJson.obj(prim("attributes"))("POSITION")).toInt)
    val idxAcc = accs(MiniJson.num(prim("indices")).toInt)
    def viewOf(acc: Map[String, Any]) = views(MiniJson.num(acc("bufferView")).toInt)
    def offOf(view: Map[String, Any], acc: Map[String, Any]): Int =
      view.get("byteOffset").map(MiniJson.num(_).toInt).getOrElse(0) +
        acc.get("byteOffset").map(MiniJson.num(_).toInt).getOrElse(0)
    val bb = java.nio.ByteBuffer.wrap(bin).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nV = MiniJson.num(posAcc("count")).toInt
    val pos = new Array[Float](nV * 3)
    bb.position(offOf(viewOf(posAcc), posAcc))
    var i = 0
    while (i < pos.length) { pos(i) = bb.getFloat; i += 1 }
    val nI = MiniJson.num(idxAcc("count")).toInt
    val comp = MiniJson.num(idxAcc("componentType")).toInt
    val idx = new Array[Int](nI)
    bb.position(offOf(viewOf(idxAcc), idxAcc))
    i = 0
    while (i < nI) {
      idx(i) = comp match {
        case 5125 => bb.getInt
        case 5123 => bb.getShort & 0xffff
        case 5121 => bb.get & 0xff
        case other => throw new IllegalArgumentException(s"unsupported index componentType $other")
      }
      i += 1
    }
    (pos, idx)
  }

  /** Dispatch on extension like `getGltfDependencies` (.gltf = text
    * JSON, .glb = binary container; GLB buffers are embedded so only
    * its image/buffer URIs — usually none — surface). */
  def dependencies(name: String, bytes: Array[Byte]): Seq[String] = {
    val lower = name.toLowerCase(java.util.Locale.ROOT)
    if (lower.endsWith(".glb")) gltfDependencies(glbJson(bytes))
    else if (lower.endsWith(".gltf")) gltfDependencies(new String(bytes, "UTF-8"))
    else throw new IllegalArgumentException(s"File is not a GLTF or GLB: $name")
  }
}
