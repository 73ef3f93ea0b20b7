package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.Bytes.{le16, le32, le64, leF64, putLe16, putLe32, putLe64, putLeF64}

/** Pure-JVM COPC (Cloud-Optimized Point Cloud 1.0) STRUCTURE reader —
  * the metadata/octree half of the reference's point-cloud tiler
  * (`src/library/pctiler.cpp` serves EPT-style octree nodes;
  * `entry.cpp` recognizes .copc.laz). A COPC file is LAS 1.4 whose
  * point data is laszip-compressed, but everything the TILER's query
  * planning needs is stored UNCOMPRESSED: the LAS public header, the
  * `copc` info VLR (record 1, first VLR at offset 375: octree center/
  * halfsize, point spacing, root hierarchy page location), and the
  * hierarchy pages — arrays of 32-byte entries (VoxelKey level/x/y/z,
  * chunk offset, byte size, point count; count −1 marks a child
  * page). This reader walks that structure; point chunks decode
  * through [[Laz]] (v2 family) or [[Laz14]] (LAS 1.4 layered v3,
  * the COPC-conformant family).
  *
  * [[hierarchyTable]] exposes the octree as a DataFrame with per-node
  * cube bounds derived from the root cube (node cube = root/2^level
  * at voxel (x,y,z)) — the relational face a distributed tiler
  * selects nodes from by bbox + resolution before ever touching point
  * bytes, exactly the reference's per-tile node walk re-expressed as
  * a filter.
  */
object Copc {

  final case class Info(
      centerX: Double,
      centerY: Double,
      centerZ: Double,
      halfSize: Double,
      spacing: Double,
      rootHierOffset: Long,
      rootHierSize: Long,
      pointCount: Long
  )

  final case class Node(
      level: Int,
      x: Int,
      y: Int,
      z: Int,
      offset: Long,
      byteSize: Int,
      pointCount: Int // -1 in the raw stream marks a child page; resolved pages never surface here
  )

  /** The copc info VLR (user_id "copc", record_id 1) — REQUIRED to be
    * the first VLR, at offset 375 (COPC 1.0 §"copc info VLR"). Returns
    * None for anything that is not a COPC file. */
  def info(b: Array[Byte]): Option[Info] = {
    if (b == null || b.length < 375 + 54 + 160) return None
    if (!(b(0) == 'L' && b(1) == 'A' && b(2) == 'S' && b(3) == 'F')) return None
    if ((b(24) & 0xff) != 1 || (b(25) & 0xff) != 4) return None // COPC requires LAS 1.4
    val vlrUser = new String(b, 375 + 2, 16, "US-ASCII").takeWhile(c => c != 0.toChar && c != ' ')
    val recordId = le16(b, 375 + 18)
    if (vlrUser != "copc" || recordId != 1) return None
    val p = 375 + 54
    val count = le64(b, 247)
    Some(
      Info(
        centerX = leF64(b, p),
        centerY = leF64(b, p + 8),
        centerZ = leF64(b, p + 16),
        halfSize = leF64(b, p + 24),
        spacing = leF64(b, p + 32),
        rootHierOffset = le64(b, p + 40),
        rootHierSize = le64(b, p + 48),
        pointCount = count
      )
    )
  }

  /** Walk the hierarchy from the root page, resolving child pages
    * (pointCount = −1 entries) recursively; returns only point-chunk
    * nodes. Cycles/out-of-range offsets terminate the walk rather
    * than throw (flag, don't abort the scan). */
  def hierarchy(b: Array[Byte]): Seq[Node] = {
    val inf = info(b).getOrElse(return Seq.empty)
    val out = ArrayBuffer.empty[Node]
    val seen = scala.collection.mutable.Set.empty[Long]
    def page(offset: Long, size: Long): Unit = {
      if (offset < 0 || size <= 0 || offset + size > b.length || !seen.add(offset)) return
      val n = (size / 32).toInt
      (0 until n).foreach { i =>
        val p = offset.toInt + i * 32
        val node = Node(le32(b, p), le32(b, p + 4), le32(b, p + 8), le32(b, p + 12),
          le64(b, p + 16), le32(b, p + 24), le32(b, p + 28))
        if (node.pointCount == -1) page(node.offset, node.byteSize.toLong)
        else if (node.pointCount >= 0) out += node
      }
    }
    page(inf.rootHierOffset, inf.rootHierSize)
    out.toSeq
  }

  /** Metadata face for the extraction scan: the same numbers the LAS
    * sniffer reports, plus the octree shape. */
  def meta(b: Array[Byte]): Option[PointCloud.CloudMeta] =
    info(b).map { inf =>
      PointCloud.CloudMeta(
        "copc",
        inf.pointCount,
        Seq("X", "Y", "Z", "Intensity", "Classification", "GpsTime"),
        Some(
          (inf.centerX - inf.halfSize, inf.centerY - inf.halfSize, inf.centerZ - inf.halfSize,
            inf.centerX + inf.halfSize, inf.centerY + inf.halfSize, inf.centerZ + inf.halfSize)
        )
      )
    }

  private val tableSchema = StructType(
    Seq(
      StructField("path", StringType),
      StructField("level", IntegerType),
      StructField("vx", IntegerType),
      StructField("vy", IntegerType),
      StructField("vz", IntegerType),
      StructField("chunk_offset", LongType),
      StructField("chunk_bytes", IntegerType),
      StructField("n_points", IntegerType),
      StructField("minx", DoubleType),
      StructField("miny", DoubleType),
      StructField("minz", DoubleType),
      StructField("maxx", DoubleType),
      StructField("maxy", DoubleType),
      StructField("maxz", DoubleType),
      StructField("resolution", DoubleType) // point spacing at this level
    )
  )

  /** One octree node ready for assembly: voxel key, point count, and
    * its standalone LAZ chunk bytes ([[Laz.encodeChunk]]). */
  final case class NodeChunk(level: Int, x: Int, y: Int, z: Int, pointCount: Int, chunk: Array[Byte])

  /** Assemble a COPC-structured container from octree node chunks —
    * the WRITE half of this reader (reference `pctiler.cpp` emits the
    * same structure through untwine). Layout is COPC 1.0: LAS 1.4
    * header, `copc` info VLR first at 375 (octree cube, spacing, root
    * hierarchy page), laszip VLR, chunked point data with the
    * compressed chunk table, then hierarchy pages — the root page
    * holds levels 0-1 plus a child-page indirection (pointCount −1)
    * for deeper levels, so readers exercise the page walk.
    *
    * `pointFormat` 6 is the CONFORMANT shape (COPC 1.0 requires LAS
    * 1.4 formats 6-8): node chunks are [[Laz14.encodeChunk]] layered
    * POINT14 v3 streams, declared as compressor 3 + item (10,30,3).
    * `pointFormat` 1 keeps the POINT10 v2 family (declared truthfully
    * as compressor 2 + v2 items) for feeders that still emit it. */
  def assemble(
      nodes: Seq[NodeChunk],
      minX: Double,
      minY: Double,
      minZ: Double,
      cubeSize: Double,
      spacing: Double,
      scale: Double,
      pointFormat: Int = 1
  ): Array[Byte] = {
    require(pointFormat == 1 || pointFormat == 6, s"copc assemble: unsupported point format $pointFormat")
    val sorted = nodes.sortBy(n => (n.level, n.x, n.y, n.z))
    val totalPoints = sorted.map(_.pointCount.toLong).sum
    val headerSize = 375
    val infoVlrSize = 54 + 160
    val numItems = if (pointFormat == 6) 1 else 2
    val recordLen = if (pointFormat == 6) 30 else 28
    val lazVlrSize = 54 + 34 + 6 * numItems
    val offsetToPoints = headerSize + infoVlrSize + lazVlrSize

    // chunk layout
    val chunkStart = offsetToPoints.toLong + 8
    val offsets = sorted.scanLeft(chunkStart)((o, n) => o + n.chunk.length)
    val chunkTableOffset = offsets.last
    // chunk table stream (delta-predicted sizes, context 1)
    val tEnc = new AcEncoder
    val ic = new IntCompressor(2, 32, forEncode = true)
    var prev = 0
    sorted.foreach { n => ic.compress(tEnc, prev, n.chunk.length, 1); prev = n.chunk.length }
    tEnc.done()
    val tableStream = tEnc.result()
    val tableBytes = 8 + tableStream.length

    // hierarchy: root page = levels 0-1 (+ child-page entry), child page = rest
    val (shallow, deep) = sorted.zipWithIndex.partition(_._1.level <= 1)
    val rootEntries = shallow.size + (if (deep.nonEmpty) 1 else 0)
    val rootOffset = chunkTableOffset + tableBytes
    val rootSize = 32L * rootEntries
    val childOffset = rootOffset + rootSize
    val childSize = 32L * deep.size

    val out = new ArrayBuffer[Byte]((chunkTableOffset + tableBytes).toInt + 32 * (sorted.size + 2))
    def pad(n: Int): Unit = (0 until n).foreach(_ => out += 0)
    def str(s: String, len: Int): Unit = out ++= s.getBytes("US-ASCII").padTo(len, 0.toByte)

    // --- LAS 1.4 header (375)
    str("LASF", 4)
    putLe16(out, 0); putLe16(out, 0) // source id, global encoding
    pad(16) // GUID
    out += 1; out += 4 // 1.4
    str("graft", 32); str("graft copc writer", 32)
    putLe16(out, 1); putLe16(out, 2026)
    putLe16(out, headerSize)
    putLe32(out, offsetToPoints.toLong)
    putLe32(out, 2L) // VLRs
    out += (pointFormat | 0x80).toByte // compressed-flag bit on the format id
    putLe16(out, recordLen)
    putLe32(out, 0L) // legacy point count (1.4: use the u64 field)
    (0 until 5).foreach(_ => putLe32(out, 0L))
    putLeF64(out, scale); putLeF64(out, scale); putLeF64(out, scale)
    putLeF64(out, 0.0); putLeF64(out, 0.0); putLeF64(out, 0.0)
    putLeF64(out, minX + cubeSize); putLeF64(out, minX) // max/min X
    putLeF64(out, minY + cubeSize); putLeF64(out, minY)
    putLeF64(out, minZ + cubeSize); putLeF64(out, minZ)
    putLe64(out, 0L) // waveform
    putLe64(out, 0L); putLe32(out, 0L) // first EVLR, n EVLRs
    putLe64(out, totalPoints)
    (0 until 15).foreach(_ => putLe64(out, 0L))
    require(out.length == headerSize)

    // --- copc info VLR (first VLR, REQUIRED at 375)
    putLe16(out, 0); str("copc", 16); putLe16(out, 1); putLe16(out, 160); str("copc info", 32)
    val half = cubeSize / 2
    putLeF64(out, minX + half); putLeF64(out, minY + half); putLeF64(out, minZ + half)
    putLeF64(out, half)
    putLeF64(out, spacing)
    putLe64(out, rootOffset); putLe64(out, rootSize)
    putLeF64(out, 0.0); putLeF64(out, 0.0) // gpstime min/max
    (0 until 11).foreach(_ => putLe64(out, 0L))
    require(out.length == headerSize + infoVlrSize)

    // --- laszip VLR (truthful item list for the stored codec family)
    putLe16(out, 0); str("laszip encoded", 16); putLe16(out, 22204); putLe16(out, (34 + 6 * numItems)); str("graft laz", 32)
    putLe16(out, if (pointFormat == 6) 3 else 2); putLe16(out, 0) // compressor: layered vs pointwise chunked
    if (pointFormat == 6) { out += 3; out += 4 } else { out += 2; out += 2 }
    putLe16(out, 0); putLe32(out, 0L)
    putLe32(out, 0xFFFFFFFFL) // variable chunk size: one chunk per octree node
    putLe64(out, 0L); putLe64(out, 0L)
    putLe16(out, numItems)
    if (pointFormat == 6) { putLe16(out, 10); putLe16(out, 30); putLe16(out, 3) } // POINT14 v3
    else {
      putLe16(out, 6); putLe16(out, 20); putLe16(out, 2) // POINT10 v2
      putLe16(out, 7); putLe16(out, 8); putLe16(out, 2) // GPSTIME11 v2
    }
    require(out.length == offsetToPoints)

    // --- point data: chunk table pointer, chunks, chunk table
    putLe64(out, chunkTableOffset)
    sorted.foreach(out ++= _.chunk)
    putLe32(out, 0L); putLe32(out, sorted.size.toLong)
    out ++= tableStream
    require(out.length == rootOffset)

    // --- hierarchy pages
    def entry(level: Int, x: Int, y: Int, z: Int, off: Long, size: Int, count: Int): Unit = {
      putLe32(out, level.toLong); putLe32(out, x.toLong); putLe32(out, y.toLong); putLe32(out, z.toLong)
      putLe64(out, off); putLe32(out, size.toLong); putLe32(out, count.toLong)
    }
    shallow.foreach { case (n, i) => entry(n.level, n.x, n.y, n.z, offsets(i), n.chunk.length, n.pointCount) }
    if (deep.nonEmpty) {
      val first = deep.head._1
      entry(first.level, first.x, first.y, first.z, childOffset, childSize.toInt, -1)
      deep.foreach { case (n, i) => entry(n.level, n.x, n.y, n.z, offsets(i), n.chunk.length, n.pointCount) }
    }
    require(out.length == childOffset + childSize)
    out.toArray
  }

  private val pointsSchema = StructType(
    Seq(
      StructField("path", StringType),
      StructField("level", IntegerType),
      StructField("vx", IntegerType),
      StructField("vy", IntegerType),
      StructField("vz", IntegerType),
      StructField("x", DoubleType),
      StructField("y", DoubleType),
      StructField("z", DoubleType),
      StructField("gps_time", DoubleType)
    )
  )

  /** ◆ The tile-SERVING read: select octree nodes by bbox and/or max
    * level (LOD cut) on [[hierarchyTable]]'s relational face — pure
    * metadata — then range-read and decode ONLY the selected nodes'
    * chunk bytes ([[Laz.decodeChunk]]; each chunk is an independent
    * stream). This is `pctiler.cpp`'s per-tile node walk as two plan
    * stages: a filter that touches no point bytes, and a decode whose
    * I/O is exactly the served nodes (the GET-Range shape — a 100 TB
    * estate serves a screenful of tiles reading megabytes). Node
    * selection is cube-INTERSECTS (tile semantics); callers filter
    * decoded points further if they need exact containment. */
  def nodePoints(
      s: SparkSession,
      path: String,
      bbox: Option[(Double, Double, Double, Double)] = None,
      maxLevel: Option[Int] = None
  ): DataFrame = {
    import org.apache.spark.sql.functions.col
    var sel = hierarchyTable(s, path)
    bbox.foreach { case (x0, y0, x1, y1) =>
      sel = sel.filter(col("minx") <= x1 && col("maxx") >= x0 && col("miny") <= y1 && col("maxy") >= y0)
    }
    maxLevel.foreach(l => sel = sel.filter(col("level") <= l))
    val rows = sel
      .select("path", "level", "vx", "vy", "vz", "chunk_offset", "chunk_bytes", "n_points")
      .rdd
      .mapPartitions { it =>
        // one header parse per (file, partition); chunk reads are
        // per-node ranges
        val headers = scala.collection.mutable.Map.empty[String, Laz.Header]
        it.flatMap { r =>
          val p = r.getString(0)
          // binaryFile reports URIs; RandomAccessFile wants a path
          val local =
            if (p.startsWith("file:")) java.nio.file.Paths.get(java.net.URI.create(p)).toString else p
          val h = headers.getOrElseUpdate(
            p, {
              val raf = new java.io.RandomAccessFile(local, "r")
              try {
                val n = math.min(raf.length(), 1L << 16).toInt
                val head = new Array[Byte](n)
                raf.readFully(head)
                // formats 6-8 are LAS 1.4 + layered v3; 0-5 the v2 family
                if ((head(104) & 0x7F) >= 6) Laz14.readHeader(head) else Laz.readHeader(head)
              } finally raf.close()
            }
          )
          val raf = new java.io.RandomAccessFile(local, "r")
          val chunk =
            try {
              val a = new Array[Byte](r.getInt(6))
              raf.seek(r.getLong(5))
              raf.readFully(a)
              a
            } finally raf.close()
          val pts =
            if (h.pointFormat >= 6)
              Laz14
                .decodeChunk(chunk, 0, chunk.length, r.getInt(7), h.pointFormat, Seq("x", "y", "z", "gps_time"))
                .iterator
                .map(pt => (pt.x, pt.y, pt.z, pt.gpsTime))
            else
              Laz
                .decodeChunk(chunk, 0, chunk.length, r.getInt(7), h.pointFormat)
                .iterator
                .map(pt => (pt.x, pt.y, pt.z, pt.gpsTime))
          pts.map { case (x, y, z, gps) =>
            Row(
              p,
              r.getInt(1),
              r.getInt(2),
              r.getInt(3),
              r.getInt(4),
              x * h.scaleX + h.offX,
              y * h.scaleY + h.offY,
              z * h.scaleZ + h.offZ,
              gps
            )
          }
        }
      }
    s.createDataFrame(rows, pointsSchema)
  }

  /** ◆ Octree node table over an estate of .copc.laz assets: one file
    * = one `binaryFile` row = one parse task; node cube bounds are
    * top-level doubles, so a tiler's bbox+resolution node selection is
    * a plain filter that min/max-prunes under parquet like every
    * other layer — no point bytes are ever read to plan a tile. */
  def hierarchyTable(s: SparkSession, path: String): DataFrame = {
    val rows = s.read
      .format("binaryFile")
      .load(path)
      .select(col("path"), col("content"))
      .rdd
      .flatMap { r =>
        val p = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        info(bytes).toSeq.flatMap { inf =>
          hierarchy(bytes).map { n =>
            val cube = (2 * inf.halfSize) / (1L << n.level)
            Row(
              p, n.level, n.x, n.y, n.z, n.offset, n.byteSize, n.pointCount,
              inf.centerX - inf.halfSize + n.x * cube,
              inf.centerY - inf.halfSize + n.y * cube,
              inf.centerZ - inf.halfSize + n.z * cube,
              inf.centerX - inf.halfSize + (n.x + 1) * cube,
              inf.centerY - inf.halfSize + (n.y + 1) * cube,
              inf.centerZ - inf.halfSize + (n.z + 1) * cube,
              inf.spacing / (1L << n.level)
            )
          }
        }
      }
    s.createDataFrame(rows, tableSchema)
  }
}
