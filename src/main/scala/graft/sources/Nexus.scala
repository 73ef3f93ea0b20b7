package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Nexus multiresolution mesh container (`.nxs`) — the LOD artifact
  * the reference's build step produces for meshes (ref `build.cpp:52`
  * writes the `nxs/` build subfolder via the external `build-lod`
  * binary, `buildlod_runner.cpp`; `3d.cpp:289` `buildNexus`). The
  * vendored libnexus in the reference checkout is an empty submodule
  * stub, so this implements the PUBLIC Nexus container layout
  * (cnr-isti-vclab/nexus `nexusData`) directly:
  *
  *  - little-endian header: magic `0x4E787320` ("Nxs "), version,
  *    nvert/nface (u64), a 36-byte attribute signature (8 vertex + 8
  *    face attribute slots of (type, number) + flags), node/patch/
  *    texture counts, bounding sphere (4×f32);
  *  - index: nodes (44 B: offset in 256-byte units, u16 nvert/nface,
  *    error, 8-byte normal cone, sphere, tight radius, first_patch),
  *    patches (12 B: child node, triangle_offset, texture), textures;
  *  - node data at 256-byte-aligned offsets: position f32×3 per
  *    vertex then u16 triangle indices, zero-padded to alignment;
  *  - a terminal SINK node (no geometry, error 0) closes the patch
  *    ranges, per the public layout.
  *
  * Subset: position-only signature, uncompressed nodes (`.nxz`
  * corto/MECO compression is out of scope, documented), linear DAG —
  * each LOD level's nodes patch-link to the first node of the next
  * finer level. Levels wider than 65 535 vertices are SPLIT into
  * multiple nodes (the u16 index domain — the same constraint that
  * shapes real nexus patches), re-indexed locally.
  */
object Nexus {

  val Magic = 0x4e787320
  val Version = 2
  private val Pad = 256
  val MaxNodeVerts = 65535

  // attribute type codes (public nexus signature convention)
  private val TFloat = 7
  private val TUShort = 4

  /** One LOD level: flat positions (x,y,z per vertex) + triangle
    * vertex indices. Coarse levels first when writing. */
  final case class Level(error: Float, positions: Array[Float], indices: Array[Int]) {
    def nvert: Int = positions.length / 3
    def nface: Int = indices.length / 3
  }

  final case class Node(
      offsetUnits: Long,
      nvert: Int,
      nface: Int,
      error: Float,
      sphere: (Float, Float, Float, Float),
      tightRadius: Float,
      firstPatch: Int)

  final case class Patch(node: Int, triangleOffset: Int, texture: Int)

  final case class Model(
      nvert: Long,
      nface: Long,
      sphere: (Float, Float, Float, Float),
      nodes: Vector[Node],
      patches: Vector[Patch],
      geometry: Vector[(Array[Float], Array[Int])]) // per non-sink node: positions, indices

  /** Split a level into nodes of ≤ [[MaxNodeVerts]] vertices each:
    * greedy run over triangles, local re-index per node. */
  private def splitLevel(lv: Level): Seq[(Array[Float], Array[Int])] = {
    if (lv.nvert <= MaxNodeVerts) return Seq((lv.positions, lv.indices))
    val out = Vector.newBuilder[(Array[Float], Array[Int])]
    var t = 0
    val nTris = lv.nface
    while (t < nTris) {
      val localIdx = new java.util.HashMap[Int, Int]()
      val pos = Array.newBuilder[Float]
      val idx = Array.newBuilder[Int]
      var full = false
      while (t < nTris && !full) {
        val corners = Array(lv.indices(3 * t), lv.indices(3 * t + 1), lv.indices(3 * t + 2))
        val newCorners = corners.count(c => !localIdx.containsKey(c))
        if (localIdx.size + newCorners > MaxNodeVerts) full = true
        else {
          corners.foreach { c =>
            if (!localIdx.containsKey(c)) {
              localIdx.put(c, localIdx.size)
              pos += lv.positions(3 * c); pos += lv.positions(3 * c + 1); pos += lv.positions(3 * c + 2)
            }
            idx += localIdx.get(c)
          }
          t += 1
        }
      }
      val p = pos.result()
      require(p.nonEmpty, "nxs: triangle wider than the vertex budget")
      out += ((p, idx.result()))
    }
    out.result()
  }

  private def boundingSphere(levels: Seq[Level]): (Float, Float, Float, Float) = {
    var minX = Float.MaxValue; var minY = Float.MaxValue; var minZ = Float.MaxValue
    var maxX = Float.MinValue; var maxY = Float.MinValue; var maxZ = Float.MinValue
    levels.foreach { lv =>
      var i = 0
      while (i < lv.positions.length) {
        val x = lv.positions(i); val y = lv.positions(i + 1); val z = lv.positions(i + 2)
        if (x < minX) minX = x; if (x > maxX) maxX = x
        if (y < minY) minY = y; if (y > maxY) maxY = y
        if (z < minZ) minZ = z; if (z > maxZ) maxZ = z
        i += 3
      }
    }
    if (minX > maxX) return (0f, 0f, 0f, 0f)
    val cx = (minX + maxX) / 2; val cy = (minY + maxY) / 2; val cz = (minZ + maxZ) / 2
    var r2 = 0.0
    levels.foreach { lv =>
      var i = 0
      while (i < lv.positions.length) {
        val dx = lv.positions(i) - cx; val dy = lv.positions(i + 1) - cy; val dz = lv.positions(i + 2) - cz
        val d = dx.toDouble * dx + dy.toDouble * dy + dz.toDouble * dz
        if (d > r2) r2 = d
        i += 3
      }
    }
    (cx, cy, cz, math.sqrt(r2).toFloat)
  }

  private def sphereOf(pos: Array[Float]): (Float, Float, Float, Float) =
    boundingSphere(Seq(Level(0f, pos, Array.empty)))

  /** Write an uncompressed `.nxs` from LOD levels, COARSEST FIRST
    * (the refinement order a nexus renderer walks). */
  def write(levels: Seq[Level]): Array[Byte] = {
    require(levels.nonEmpty, "nxs: no levels")
    val split = levels.map(splitLevel)
    val nodeGeo = split.flatten
    val nNodes = nodeGeo.length + 1 // + sink
    // one patch per real node → first node id of the next level (sink for the last)
    val levelFirstNode = split.scanLeft(0)((acc, s) => acc + s.length)
    val patches = Vector.newBuilder[Patch]
    val firstPatchOf = Vector.newBuilder[Int]
    var pCount = 0
    split.zipWithIndex.foreach { case (nodes, li) =>
      nodes.foreach { case (_, idx) =>
        firstPatchOf += pCount
        val child = if (li + 1 < split.length) levelFirstNode(li + 1) else nNodes - 1
        patches += Patch(child, idx.length / 3, -1)
        pCount += 1
      }
    }
    firstPatchOf += pCount // sink closes the range
    val firstPatches = firstPatchOf.result()
    val allPatches = patches.result()

    val headerLen = 4 + 4 + 8 + 8 + 36 + 4 + 4 + 4 + 16
    val indexLen = nNodes * 44 + allPatches.length * 12
    val dataStart = ((headerLen + indexLen + Pad - 1) / Pad) * Pad

    // node payload layout
    val nodeOffsets = new Array[Long](nodeGeo.length)
    var at = dataStart.toLong
    nodeGeo.zipWithIndex.foreach { case ((pos, idx), i) =>
      nodeOffsets(i) = at / Pad
      val raw = pos.length * 4 + idx.length * 2
      at += ((raw + Pad - 1) / Pad) * Pad
    }
    val total = at
    require(total <= Int.MaxValue, "nxs: file too large")

    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(Magic)
    buf.putInt(Version)
    buf.putLong(levels.map(_.nvert.toLong).sum)
    buf.putLong(levels.map(_.nface.toLong).sum)
    // signature: vertex slot 0 = position (float ×3), face slot 0 = u16 index ×3
    val vattr = new Array[Byte](16)
    vattr(0) = TFloat.toByte; vattr(1) = 3
    val fattr = new Array[Byte](16)
    fattr(0) = TUShort.toByte; fattr(1) = 3
    buf.put(vattr); buf.put(fattr); buf.putInt(0) // flags: uncompressed
    buf.putInt(nNodes)
    buf.putInt(allPatches.length)
    buf.putInt(0) // textures
    val sph = boundingSphere(levels)
    buf.putFloat(sph._1); buf.putFloat(sph._2); buf.putFloat(sph._3); buf.putFloat(sph._4)

    // node index
    val errOf = split.zipWithIndex.flatMap { case (nodes, li) => nodes.map(_ => levels(li).error) }
    nodeGeo.zipWithIndex.foreach { case ((pos, idx), i) =>
      buf.putInt(nodeOffsets(i).toInt)
      buf.putShort((pos.length / 3).toShort)
      buf.putShort((idx.length / 3).toShort)
      buf.putFloat(errOf(i))
      buf.putLong(0L) // normal cone unused (position-only signature)
      val s = sphereOf(pos)
      buf.putFloat(s._1); buf.putFloat(s._2); buf.putFloat(s._3); buf.putFloat(s._4)
      buf.putFloat(s._4) // tight radius = radius for our axis-aligned sphere
      buf.putInt(firstPatches(i))
    }
    // sink node
    buf.putInt((total / Pad).toInt)
    buf.putShort(0); buf.putShort(0)
    buf.putFloat(0f)
    buf.putLong(0L)
    buf.putFloat(0f); buf.putFloat(0f); buf.putFloat(0f); buf.putFloat(0f)
    buf.putFloat(0f)
    buf.putInt(firstPatches(nodeGeo.length))
    // patches
    allPatches.foreach { p =>
      buf.putInt(p.node); buf.putInt(p.triangleOffset); buf.putInt(p.texture)
    }
    // node data
    nodeGeo.zipWithIndex.foreach { case ((pos, idx), i) =>
      buf.position((nodeOffsets(i) * Pad).toInt)
      pos.foreach(buf.putFloat)
      idx.foreach(v => buf.putShort(v.toShort))
    }
    buf.array()
  }

  /** q_nexus: per event_type, the q_lod lattice mesh (vertex per
    * event id) and its cell-4 min-vid decimation cycle through the
    * REAL `.nxs` container in-task — write, read back, geometry must
    * match byte-exactly (requires) — so the oracle can state the two
    * level widths relationally (count + distinct-cells). */
  def nexusQuery(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val verts = sorted.map(id => (id, (id % 100).toDouble, ((id * 3) % 100).toDouble, ((id * 7) % 50).toDouble))
      val tris = sorted.grouped(3).filter(_.length == 3).map(g => (g(0), g(1), g(2))).toSeq
      def emit(vs: Seq[(Long, Double, Double, Double)], ts: Seq[(Long, Long, Long)]): (Array[Float], Array[Int]) = {
        val index = vs.map(_._1).sorted.zipWithIndex.toMap
        val pos = new Array[Float](vs.length * 3)
        vs.foreach { case (vid, x, y, z) =>
          val k = index(vid)
          pos(3 * k) = x.toFloat; pos(3 * k + 1) = y.toFloat; pos(3 * k + 2) = z.toFloat
        }
        (pos, ts.flatMap { case (a, b, c) => Seq(index(a), index(b), index(c)) }.toArray)
      }
      val cell = 4.0
      def cellOf(v: (Long, Double, Double, Double)) =
        (math.floor(v._2 / cell), math.floor(v._3 / cell), math.floor(v._4 / cell))
      val rep = verts.groupBy(cellOf).map { case (_, vs) => vs.minBy(_._1) }.toSeq
      val byCell = rep.map(v => cellOf(v) -> v._1).toMap
      val remap = verts.map(v => v._1 -> byCell(cellOf(v))).toMap
      val coarseTris = tris
        .map { case (a, b, c) => (remap(a), remap(b), remap(c)) }
        .filter { case (a, b, c) => a != b && b != c && a != c }
      val (finePos, fineIdx) = emit(verts, tris)
      val (coarsePos, coarseIdx) = emit(rep, coarseTris)
      val bytes = write(Seq(Level(cell.toFloat, coarsePos, coarseIdx), Level(0f, finePos, fineIdx)))
      val m = read(bytes)
      require(m.nvert == verts.length + rep.length && isNxs(bytes), "nxs meta drift")
      if (verts.length <= MaxNodeVerts) { // unsplit: byte-exact per level
        require(m.geometry.head._1.sameElements(coarsePos) && m.geometry.head._2.sameElements(coarseIdx),
          "nxs coarse level drifted")
        require(m.geometry.last._1.sameElements(finePos) && m.geometry.last._2.sameElements(fineIdx),
          "nxs fine level drifted")
      } else // split into multiple u16 nodes: face totals must agree
        require(m.geometry.map(_._2.length / 3).sum == (coarseIdx.length + fineIdx.length) / 3,
          "nxs split face count drifted")
      Seq(verts.length.toLong, rep.length.toLong)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type")
      .agg(collect_list($"event_id").as("ids"))
      .select($"event_type", cycle($"ids").as("a"))
      .select($"event_type", $"a".getItem(0).as("n_fine"), $"a".getItem(1).as("n_coarse"))
      .orderBy($"event_type")
  }

  def isNxs(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      Bytes.le32(b, 0) == Magic

  /** Read an uncompressed `.nxs` written by [[write]] (or any
    * position-only uncompressed stream in this layout). */
  def read(bytes: Array[Byte]): Model =
    try read0(bytes)
    catch {
      case _: java.nio.BufferUnderflowException =>
        throw new IllegalArgumentException("nxs: truncated container")
      case _: IndexOutOfBoundsException =>
        throw new IllegalArgumentException("nxs: index out of range")
    }

  private def read0(bytes: Array[Byte]): Model = {
    require(isNxs(bytes), "nxs: bad magic")
    require(bytes.length >= 88, "nxs: truncated header")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.getInt() // magic
    val version = buf.getInt()
    require(version >= 1 && version <= 3, s"nxs: unsupported version $version")
    val nvert = buf.getLong()
    val nface = buf.getLong()
    val vType = buf.get(); val vNum = buf.get()
    buf.position(buf.position() + 14)
    val fType = buf.get(); val fNum = buf.get()
    buf.position(buf.position() + 14)
    val flags = buf.getInt()
    // PERMANENT refusal (r16 feasibility probe): corto/MECO node
    // compression has no published normative spec (the format is
    // defined by its reference library) and no implementation exists
    // in this container to pin a clean-room decoder against
    // (`find / -iname "*corto*"` / ldconfig: nothing) — the same
    // provenance gate MP3 fails. Uncompressed `.nxs` reads fully.
    require(flags == 0, "nxs: compressed (.nxz corto/MECO) streams unsupported")
    require(vType == TFloat && vNum == 3, "nxs: only position-f32x3 vertex signatures supported")
    require(fType == TUShort && fNum == 3, "nxs: only u16-triangle face signatures supported")
    val nNodes = buf.getInt()
    val nPatches = buf.getInt()
    val nTex = buf.getInt()
    require(nTex == 0, "nxs: textured streams unsupported")
    require(nNodes >= 1 && nNodes <= (1 << 20) && nPatches >= 0 && nPatches <= (1 << 22), "nxs: index out of range")
    val sphere = (buf.getFloat(), buf.getFloat(), buf.getFloat(), buf.getFloat())
    val nodes = Vector.fill(nNodes) {
      val off = buf.getInt().toLong & 0xffffffffL
      val nv = buf.getShort() & 0xffff
      val nf = buf.getShort() & 0xffff
      val err = buf.getFloat()
      buf.getLong() // cone
      val sph = (buf.getFloat(), buf.getFloat(), buf.getFloat(), buf.getFloat())
      val tight = buf.getFloat()
      val fp = buf.getInt()
      Node(off, nv, nf, err, sph, tight, fp)
    }
    val patches = Vector.fill(nPatches)(Patch(buf.getInt(), buf.getInt(), buf.getInt()))
    val geometry = nodes.init.map { n => // sink node has no geometry
      val start = n.offsetUnits * Pad
      require(start + n.nvert * 12L + n.nface * 6L <= bytes.length, "nxs: node data out of range")
      buf.position(start.toInt)
      val pos = Array.fill(n.nvert * 3)(buf.getFloat())
      val idx = Array.fill(n.nface * 3)((buf.getShort() & 0xffff): Int)
      idx.foreach(i => require(i < n.nvert, "nxs: index out of node range"))
      (pos, idx)
    }
    Model(nvert, nface, sphere, nodes, patches, geometry)
  }
}
