package graft.operators

/** Arrow IPC walk (FILE/Feather-v2 and STREAM encapsulations) — the
  * columnar interchange format ML training corpora and dataset hubs
  * ship in. From-spec, pure Scala: a generic FlatBuffers cursor
  * (root/vtable/field resolution, strings, vectors, structs, unions —
  * the complete subset the Arrow metadata needs) plus the four Arrow
  * message walkers:
  *
  *  - `Footer` (File.fbs): schema + Block index of record batches —
  *    the FILE layout is `ARROW1\0\0 … messages … footer, int32
  *    footer-length, ARROW1`, so the batch index is discovered from
  *    the tail without scanning (the property that makes column/batch
  *    PRUNING possible on a 100 TB lake: a reader seeks straight to
  *    the batches it needs);
  *  - `Message` (Message.fbs): version / header union / bodyLength,
  *    framed by the 0xFFFFFFFF continuation + metadata length;
  *  - `Schema`/`Field` (Schema.fbs): name, nullability, type union —
  *    supported: Int (8/16/32/64, signed), FloatingPoint
  *    (SINGLE/DOUBLE), Utf8, Bool;
  *  - `RecordBatch`: FieldNode(length, null_count) structs + Buffer
  *    (offset, length) structs; per-column buffers decoded directly
  *    — LSB-first validity bitmaps, int32 offsets + data for Utf8,
  *    width-typed data for Int/Float, bit-packed Bool.
  *
  * Dictionary-encoded columns DECODE (DictionaryBatch values +
  * signed-index mapping — the categorical-column norm in hub files),
  * including DELTA dictionary batches (isDelta=true appends to the
  * registered values — the incremental-writer shape). Nested columns
  * DECODE recursively to depth 16: `list<…>` (validity + int32
  * offsets + element subtree), `struct<…>` (validity on the struct
  * node; each member a full-length child subtree), and `map<…,…>`
  * (list-shaped offsets over a non-nullable entries struct) compose
  * freely (`list<list<int64>>`, `struct<a:list<int64>,b:utf8>`) —
  * the shapes real Feather corpora carry for token lists, metadata
  * records, and key-value properties. Compressed bodies DECODE (BodyCompression method
  * BUFFER, codecs LZ4_FRAME and ZSTD — the layouts hub-distributed
  * Feather files ship routinely): each body buffer is
  * `[int64 uncompressed-length][frame]`, length -1 = stored raw;
  * decompression goes through [[Lz4Codec]] (in-repo) / [[ZstdCodec]]
  * (libzstd). Calendar columns decode as their RAW wire integers
  * (date32 = days, date64 = millis, timestamp_{s,ms,us,ns} = the
  * declared unit; tz is metadata) — the caller owns the calendar.
  * Decimal128 decodes to exact BigDecimal (16-byte two's-complement
  * LE unscaled + schema scale); Time32/Time64 and Duration decode as
  * raw unit integers like the other calendar types. Honest subset,
  * quarantined LOUDLY (never silently misread): Union, Decimal256,
  * Interval, nesting past depth 16, dictionary encoding below the
  * top level, and big-endian schemas. Arrow carries NO data
  * checksums,
  * so corruption detection is structural (magic, framing, footer
  * length, buffer bounds) — a flipped body byte is undetectable by
  * design; noted where the ZIP/7z walks advertise CRC gates.
  *
  * Fixtures are written by the REAL Arrow Java writer from the Spark
  * classpath (`ArrowFileWriter`, an independent implementation), so
  * round-trip equality witnesses this decoder against foreign output.
  *
  * Scale shape: one file per row inside `mapPartitions` — bytes-linear,
  * scan-local, zero shuffle before the caller's aggregate.
  */
object ArrowWalk {

  // ------------------------------------------------------- flatbuffers

  /** Minimal FlatBuffers reader: every accessor bounds-checks into the
    * enclosing byte array; malformed metadata surfaces as an exception
    * that the walk converts into a file-level quarantine.
    */
  private final class Fb(val b: Array[Byte], val base: Int, val end: Int) {
    private def chk(p: Int, n: Int): Unit =
      require(p >= base && p + n <= end, s"flatbuffer read out of bounds at $p")
    def u8(p: Int): Int = { chk(p, 1); b(p) & 0xff }
    def u16(p: Int): Int = { chk(p, 2); (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) }
    def i32(p: Int): Int = {
      chk(p, 4)
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
        ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
    }
    def i64(p: Int): Long = {
      chk(p, 8)
      var v = 0L
      var k = 0
      while (k < 8) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
      v
    }
    /** Root table position (buffer starts with an int32 offset). */
    def root(): Int = base + i32(base)
    /** Absolute position of field `id` in the table at `t`; -1 when
      * the field is absent (vtable too short or zero slot).
      */
    def field(t: Int, id: Int): Int = {
      val vt = t - i32(t)
      require(vt >= base && vt + 4 <= end, "bad vtable")
      val vtSize = u16(vt)
      val slot = 4 + 2 * id
      if (slot + 2 > vtSize) -1
      else {
        val off = u16(vt + slot)
        if (off == 0) -1 else t + off
      }
    }
    def fieldI16(t: Int, id: Int, dflt: Int): Int = {
      val p = field(t, id); if (p < 0) dflt else u16(p)
    }
    def fieldI32(t: Int, id: Int, dflt: Int): Int = {
      val p = field(t, id); if (p < 0) dflt else i32(p)
    }
    def fieldI64(t: Int, id: Int, dflt: Long): Long = {
      val p = field(t, id); if (p < 0) dflt else i64(p)
    }
    def fieldBool(t: Int, id: Int, dflt: Boolean): Boolean = {
      val p = field(t, id); if (p < 0) dflt else u8(p) != 0
    }
    /** Absolute position of the table/string/vector a field points at. */
    def fieldOffset(t: Int, id: Int): Int = {
      val p = field(t, id)
      if (p < 0) -1 else p + i32(p)
    }
    def string(p: Int): String = {
      val n = i32(p)
      chk(p + 4, n)
      new String(b, p + 4, n, "UTF-8")
    }
    def vecLen(p: Int): Int = i32(p)
    /** Element position for fixed-size elements (structs/scalars). */
    def vecElem(p: Int, i: Int, elemSize: Int): Int = p + 4 + i * elemSize
    /** Table-vector element: offset-typed elements. */
    def vecTable(p: Int, i: Int): Int = {
      val ep = vecElem(p, i, 4)
      ep + i32(ep)
    }
  }

  // ------------------------------------------------------------- model

  final case class ColSpec(name: String, typ: String, nullable: Boolean)
  final case class ArrowTable(cols: Seq[ColSpec], nRows: Int,
      values: Seq[Array[AnyRef]])

  /** Internal field spec: `typ` is the VALUE type; dictionary-encoded
    * fields carry the dictionary id and index byte width (indices are
    * signed ints per Schema.fbs).
    */
  private final case class FieldSpec(col: ColSpec, dictId: Long, idxWidth: Int)

  private val Magic = "ARROW1".getBytes("ASCII")

  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
      ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  // --------------------------------------------------------- schema

  /** Field type from the Schema.fbs Type union; throws on the
    * unsupported members (→ file quarantine).
    */
  private def fieldType(fb: Fb, fieldT: Int): String = {
    val tt = { val p = fb.field(fieldT, 2); if (p < 0) 0 else fb.u8(p) }
    val tv = fb.fieldOffset(fieldT, 3)
    tt match {
      case 2 => // Int
        val bw = fb.fieldI32(tv, 0, 0)
        val signed = fb.fieldBool(tv, 1, dflt = false)
        require(signed, "unsigned ints unsupported")
        require(bw == 8 || bw == 16 || bw == 32 || bw == 64, s"int$bw unsupported")
        s"int$bw"
      case 3 => // FloatingPoint
        fb.fieldI16(tv, 0, 0) match {
          case 1 => "float32"
          case 2 => "float64"
          case p => throw new IllegalArgumentException(s"float precision $p unsupported")
        }
      case 5 => "utf8"
      case 6 => "bool"
      case 7 => // Decimal: 128-bit two's-complement LE + schema scale
        val p = fb.fieldI32(tv, 0, 0)
        val sc = fb.fieldI32(tv, 1, 0)
        // Schema.fbs declares `bitWidth: int = 128` — absent means 128
        val bw = fb.fieldI32(tv, 2, 128)
        require(bw == 128, s"decimal$bw unsupported")
        s"decimal($p,$sc)"
      case 9 => // Time-of-day: raw integer in the declared unit.
        // Schema.fbs: `unit: TimeUnit = MILLISECOND; bitWidth: int = 32`
        val u = fb.fieldI16(tv, 0, 1)
        val bw = fb.fieldI32(tv, 1, 32)
        (u, bw) match {
          case (0, 32) => "time32_s"
          case (1, 32) => "time32_ms"
          case (2, 64) => "time64_us"
          case (3, 64) => "time64_ns"
          case other => throw new IllegalArgumentException(
            s"time unit/width $other unsupported")
        }
      case 18 => // Duration: int64 in the declared unit (default ms)
        fb.fieldI16(tv, 0, 1) match {
          case 0 => "duration_s"
          case 1 => "duration_ms"
          case 2 => "duration_us"
          case 3 => "duration_ns"
          case u => throw new IllegalArgumentException(s"duration unit $u unsupported")
        }
      case 8 => // Date: DAY = int32 days, MILLISECOND = int64 millis.
        // Schema.fbs declares `unit: DateUnit = MILLISECOND`, so the
        // flatbuffer OMITS the field at its default — absent means 1
        fb.fieldI16(tv, 0, 1) match {
          case 0 => "date32"
          case 1 => "date64"
          case u => throw new IllegalArgumentException(s"date unit $u unsupported")
        }
      case 10 => // Timestamp: int64 in the declared unit (tz is metadata
        // only — values stay raw units, the caller owns the calendar)
        fb.fieldI16(tv, 0, 0) match {
          case 0 => "timestamp_s"
          case 1 => "timestamp_ms"
          case 2 => "timestamp_us"
          case 3 => "timestamp_ns"
          case u => throw new IllegalArgumentException(s"timestamp unit $u unsupported")
        }
      case other => throw new IllegalArgumentException(s"arrow type ordinal $other unsupported")
    }
  }

  /** Forged metadata could nest types arbitrarily deep; the walkers
    * recurse on the type tree, so bound it (real Feather rarely
    * exceeds 3).
    */
  private val MaxNestDepth = 16

  /** Recursive field type: nested list/struct/map compose to any depth
    * up to [[MaxNestDepth]] (`list<list<int64>>`,
    * `struct<a:list<int64>,b:utf8>`, `map<utf8,list<int64>>`).
    * Dictionary encoding below the top level stays quarantined.
    */
  private def typeOf(fb: Fb, f: Int, depth: Int): String = {
    require(depth <= MaxNestDepth, "arrow type nesting too deep")
    if (depth > 0)
      require(fb.fieldOffset(f, 4) < 0,
        "dictionary-encoded nested children unsupported")
    val children = fb.fieldOffset(f, 5)
    val tt = { val p = fb.field(f, 2); if (p < 0) 0 else fb.u8(p) }
    if (tt == 12) { // List: one child field carrying the element type
      require(children >= 0 && fb.vecLen(children) == 1,
        "list without exactly one child")
      s"list<${typeOf(fb, fb.vecTable(children, 0), depth + 1)}>"
    } else if (tt == 17) { // Map: one "entries" child, a non-nullable
      // struct<key, value> under list-shaped offsets (Schema.fbs Map)
      require(children >= 0 && fb.vecLen(children) == 1,
        "map without exactly one entries child")
      val entries = fb.vecTable(children, 0)
      val kv = fb.fieldOffset(entries, 5)
      require(kv >= 0 && fb.vecLen(kv) == 2, "map entries without key+value")
      val kt = typeOf(fb, fb.vecTable(kv, 0), depth + 1)
      val vt = typeOf(fb, fb.vecTable(kv, 1), depth + 1)
      s"map<$kt,$vt>"
    } else if (tt == 13) { // Struct_: children carry the member fields
      require(children >= 0 && fb.vecLen(children) >= 1,
        "struct without children")
      val members = (0 until fb.vecLen(children)).map { k =>
        val ch = fb.vecTable(children, k)
        val nm = { val p = fb.fieldOffset(ch, 0); if (p < 0) "" else fb.string(p) }
        // the member list round-trips through the type string — a
        // separator in a member name would corrupt it
        require(!nm.exists(c => c == ':' || c == ',' || c == '<' || c == '>'),
          s"struct member name '$nm' unsupported")
        s"$nm:${typeOf(fb, ch, depth + 1)}"
      }
      s"struct<${members.mkString(",")}>"
    } else {
      require(children < 0 || fb.vecLen(children) == 0, "nested types unsupported")
      fieldType(fb, f)
    }
  }

  /** Split a composite type's member list on top-level commas only
    * (members may themselves be nested types carrying commas).
    */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' => depth += 1
        case '>' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  private def readSchema(fb: Fb, schemaT: Int): Seq[FieldSpec] = {
    require(fb.fieldI16(schemaT, 0, 0) == 0, "big-endian arrow unsupported")
    val fieldsVec = fb.fieldOffset(schemaT, 1)
    require(fieldsVec >= 0, "schema without fields")
    (0 until fb.vecLen(fieldsVec)).map { i =>
      val f = fb.vecTable(fieldsVec, i)
      val typ = typeOf(fb, f, 0)
      val name = { val p = fb.fieldOffset(f, 0); if (p < 0) "" else fb.string(p) }
      val col = ColSpec(name, typ, fb.fieldBool(f, 1, dflt = false))
      if (typ.startsWith("list<") || typ.startsWith("struct<") ||
        typ.startsWith("map<"))
        require(fb.fieldOffset(f, 4) < 0, "dictionary-encoded nested columns unsupported")
      val dictT = fb.fieldOffset(f, 4) // DictionaryEncoding
      if (dictT < 0) FieldSpec(col, -1L, 0)
      else {
        val id = fb.fieldI64(dictT, 0, 0L)
        val idxT = fb.fieldOffset(dictT, 1) // indexType, default int32 signed
        val bw = if (idxT < 0) 32 else fb.fieldI32(idxT, 0, 0)
        val signed = idxT < 0 || fb.fieldBool(idxT, 1, dflt = false)
        require(signed, "unsigned dictionary indices unsupported")
        require(bw == 8 || bw == 16 || bw == 32 || bw == 64,
          s"dictionary index width $bw unsupported")
        FieldSpec(col, id, bw / 8)
      }
    }
  }

  // --------------------------------------------------------- batches

  private final case class Buf(off: Long, len: Long)

  /** Decode one record batch body into per-column boxed values,
    * appended to `acc`.
    */
  /** One record-batch buffer, possibly re-materialized by buffer-level
    * decompression (`arr` is then a fresh array, `off` = 0).
    */
  private final case class View(arr: Array[Byte], off: Int, len: Int)

  private def readBatch(fb: Fb, batchT: Int, bytes: Array[Byte], bodyStart: Long,
      cols: Seq[FieldSpec], acc: Array[scala.collection.mutable.ArrayBuffer[AnyRef]],
      dicts: scala.collection.mutable.Map[Long, Array[AnyRef]]): Unit = {
    // BodyCompression (Message.fbs): method BUFFER = each non-empty
    // body buffer is [int64 LE uncompressed-length][one LZ4-frame /
    // zstd frame]; length -1 marks a buffer the writer stored raw
    // (compression did not pay). codec 0 = LZ4_FRAME, 1 = ZSTD — both
    // decoded through the repo's member codecs.
    val compT = fb.fieldOffset(batchT, 3)
    val codec: Int =
      if (compT < 0) -1
      else {
        val c = { val p = fb.field(compT, 0); if (p < 0) 0 else fb.u8(p) }
        val m = { val p = fb.field(compT, 1); if (p < 0) 0 else fb.u8(p) }
        require(m == 0, s"arrow body-compression method $m unsupported")
        require(c == 0 || c == 1, s"arrow compression codec $c unsupported")
        c
      }
    val nodesVec = fb.fieldOffset(batchT, 1)
    val bufsVec = fb.fieldOffset(batchT, 2)
    require(nodesVec >= 0 && bufsVec >= 0, "record batch missing nodes/buffers")
    // FieldNodes walk the field TREE depth-first: a list column owns
    // its node plus its element's subtree, a map its node + the entries
    // struct + the key and value subtrees, a struct its node + one
    // subtree per member — recursively to MaxNestDepth
    def nNodes(typ: String): Int =
      if (typ.startsWith("list<")) 1 + nNodes(typ.drop(5).dropRight(1))
      else if (typ.startsWith("map<")) {
        val Seq(kt, vt) = splitTop(typ.drop(4).dropRight(1))
        2 + nNodes(kt) + nNodes(vt)
      } else if (typ.startsWith("struct<"))
        1 + splitTop(typ.drop(7).dropRight(1))
          .map(m => nNodes(m.substring(m.indexOf(':') + 1))).sum
      else 1
    val expectedNodes = cols.map(s => nNodes(s.col.typ)).sum
    require(fb.vecLen(nodesVec) == expectedNodes, "node count != field-tree size")
    val bufs = (0 until fb.vecLen(bufsVec)).map { i =>
      val p = fb.vecElem(bufsVec, i, 16)
      Buf(fb.i64(p), fb.i64(p + 8))
    }
    // Capacity floor for the forged-node guard. Uncompressed bodies: a
    // batch cannot carry more values than the file has BITS (all-null
    // validity floor). Compressed bodies (codec >= 0): buffers
    // re-materialize to their DECLARED uncompressed lengths (validated
    // against the actual decode in nextBuf), so a highly compressible
    // batch legitimately exceeds 8 x its on-disk bytes — bound by the
    // sum of declared lengths instead, each clamped so a forged prefix
    // cannot push the floor to effectively-unbounded.
    val bitCapacity: Long =
      if (codec < 0) bytes.length.toLong * 8
      else {
        // Declared lengths are ATTACKER-CONTROLLED until nextBuf's
        // decode check fires — and zero-length buffers never reach it.
        // Bound the floor by a max plausible decompression ratio over
        // the file's ACTUAL bytes (4096x is far beyond any real zstd/lz4
        // frame on data that genuinely carries that many values; the
        // honest constant-column witness in ArrowWalkSpec is ~8x), so a
        // tiny forged file can never push the floor to giant-allocation
        // scale no matter what its prefixes or buffer count claim.
        val maxTotal = bytes.length.toLong * 4096
        val declaredTotal = bufs.foldLeft(0L) { (acc, b) =>
          val s = bodyStart + b.off
          val declared =
            if (b.len >= 8 && s >= 0 && s + 8 <= bytes.length) {
              var u = 0L; var k = 0
              while (k < 8) { u |= (bytes(s.toInt + k) & 0xffL) << (8 * k); k += 1 }
              if (u == -1L) b.len - 8 else u
            } else b.len
          acc + math.min(math.max(declared, 0L), maxTotal)
        }
        math.min(declaredTotal, maxTotal) * 8
      }
    var ni = 0
    def nextNode(): (Int, Long) = {
      val p = fb.vecElem(nodesVec, ni, 16); ni += 1
      val len = fb.i64(p)
      // forged node lengths must not drive giant boxed allocations
      // before a buffer bounds check fires — and must fit an Int, or
      // len.toInt would wrap to negative/garbage counts downstream
      require(len >= 0 && len <= bitCapacity + 64 && len <= Int.MaxValue,
        "field node length out of range")
      (len.toInt, fb.i64(p + 8))
    }
    var bi = 0
    def nextBuf(): View = {
      val buf = bufs(bi); bi += 1
      val s = bodyStart + buf.off
      require(s >= 0 && s + buf.len <= bytes.length, "buffer beyond file")
      if (codec < 0 || buf.len == 0) View(bytes, s.toInt, buf.len.toInt)
      else {
        require(buf.len >= 8, "compressed buffer shorter than its length prefix")
        var ulen = 0L
        var k = 0
        while (k < 8) { ulen |= (bytes(s.toInt + k) & 0xffL) << (8 * k); k += 1 }
        if (ulen == -1L) View(bytes, s.toInt + 8, buf.len.toInt - 8)
        else {
          val frame = java.util.Arrays.copyOfRange(
            bytes, s.toInt + 8, (s + buf.len).toInt)
          val out = (if (codec == 0) Lz4Codec.decode(frame)
                     else ZstdCodec.decode(frame))
            .getOrElse(throw new IllegalArgumentException(
              "arrow buffer decompression failed"))
          require(out.length == ulen,
            s"decompressed ${out.length} != declared $ulen")
          View(out, 0, out.length)
        }
      }
    }
    def bit(v: View, i: Int): Boolean =
      v.len == 0 || (v.arr(v.off + (i >> 3)) & (1 << (i & 7))) != 0
    def longAt(d: View, w: Int, i: Int): Long = {
      var v = 0L
      var k = 0
      while (k < w) { v |= (d.arr(d.off + w * i + k) & 0xffL) << (8 * k); k += 1 }
      val sh = 64 - 8 * w
      (v << sh) >> sh
    }
    /** Decode one primitive field's VALUE buffers (validity already
      * consumed by the caller) into boxed values.
      */
    def readPrim(typ: String, n: Int,
        valid: Int => Boolean): IndexedSeq[AnyRef] = typ match {
      case "utf8" =>
        val o = nextBuf()
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null
          else {
            val s = le32(o.arr, o.off + 4 * i)
            val e = le32(o.arr, o.off + 4 * (i + 1))
            new String(d.arr, d.off + s, e - s, "UTF-8")
          }
        }
      case "bool" =>
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null else java.lang.Boolean.valueOf(bit(d, i))
        }
      case t if t.startsWith("int") =>
        val w = t.drop(3).toInt / 8
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null else java.lang.Long.valueOf(longAt(d, w, i))
        }
      case t if t == "date32" || t == "date64" || t.startsWith("timestamp_") ||
          t.startsWith("time32_") || t.startsWith("time64_") ||
          t.startsWith("duration_") =>
        // calendar types are raw integers on the wire: date32/time32 =
        // int32, date64/time64/timestamp/duration = int64, all in the
        // schema-declared unit
        val w = if (t == "date32" || t.startsWith("time32_")) 4 else 8
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null else java.lang.Long.valueOf(longAt(d, w, i))
        }
      case t if t.startsWith("decimal(") =>
        // decimal128: 16-byte two's-complement little-endian unscaled
        // value; the scale lives in the schema
        val scale = t.dropRight(1).split(",")(1).toInt
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null
          else {
            val be = new Array[Byte](16)
            var k = 0
            while (k < 16) { be(k) = d.arr(d.off + 16 * i + (15 - k)); k += 1 }
            new java.math.BigDecimal(new java.math.BigInteger(be), scale)
          }
        }
      case "float64" =>
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null
          else java.lang.Double.valueOf(
            java.lang.Double.longBitsToDouble(longAt(d, 8, i)))
        }
      case "float32" =>
        val d = nextBuf()
        (0 until n).map { i =>
          if (!valid(i)) null
          else java.lang.Double.valueOf(
            java.lang.Float.intBitsToFloat(le32(d.arr, d.off + 4 * i)).toDouble)
        }
      case other => throw new IllegalArgumentException(s"type $other unsupported")
    }
    /** One field's full value array: consumes its FieldNode, validity
      * buffer, and data/child buffers depth-first — exactly the
      * RecordBatch serialization order — recursing through nested
      * list/struct/map children.
      */
    def readField(typ: String): IndexedSeq[AnyRef] = {
      val (n, nullCount) = nextNode()
      val vv = nextBuf()
      val valid: Int => Boolean =
        if (nullCount == 0L) _ => true else i => bit(vv, i)
      readValues(typ, n, valid)
    }
    def readValues(typ: String, n: Int,
        valid: Int => Boolean): IndexedSeq[AnyRef] =
      if (typ.startsWith("list<")) {
        // list layout: int32 offsets on the list node, then the element
        // field's subtree. Cell = element Vector.
        val o = nextBuf()
        val elems = readField(typ.drop(5).dropRight(1))
        (0 until n).map { i =>
          if (!valid(i)) null
          else {
            val s = le32(o.arr, o.off + 4 * i)
            val e = le32(o.arr, o.off + 4 * (i + 1))
            require(s >= 0 && e >= s && e <= elems.length,
              "list offsets out of range")
            elems.slice(s, e).toVector
          }
        }
      } else if (typ.startsWith("map<")) {
        // map layout = list over a non-nullable entries struct: int32
        // offsets on the map node, then the entries struct node (its
        // own validity buffer — all-set per spec) and the key and value
        // subtrees, each entries-length. Cell = (key, value) Vector.
        val Seq(kt, vt) = splitTop(typ.drop(4).dropRight(1))
        val o = nextBuf()
        val (en, _) = nextNode() // entries struct node
        nextBuf() // entries validity (non-nullable: empty or all-set)
        val keys = readField(kt)
        val vals = readField(vt)
        require(keys.length == en && vals.length == en,
          "map key/value length != entries length")
        (0 until n).map { i =>
          if (!valid(i)) null
          else {
            val s = le32(o.arr, o.off + 4 * i)
            val e = le32(o.arr, o.off + 4 * (i + 1))
            require(s >= 0 && e >= s && e <= en, "map offsets out of range")
            (s until e).map(j => (keys(j), vals(j))).toVector
          }
        }
      } else if (typ.startsWith("struct<")) {
        // struct layout: ONLY a validity buffer on the struct node
        // (already consumed); each member a full-length child subtree.
        // Cell = member-value Vector in declaration order.
        val memberVals = splitTop(typ.drop(7).dropRight(1)).map { m =>
          val mv = readField(m.substring(m.indexOf(':') + 1))
          require(mv.length == n, "struct member length != struct length")
          mv
        }
        (0 until n).map { i =>
          if (!valid(i)) null else memberVals.map(_(i)).toVector
        }
      } else readPrim(typ, n, valid)
    cols.zipWithIndex.foreach { case (spec, ci) =>
      if (spec.dictId >= 0) {
        // dictionary-encoded: signed int indices mapped through the
        // registered dictionary values
        val (n, nullCount) = nextNode()
        val vv = nextBuf()
        val valid: Int => Boolean =
          if (nullCount == 0L) _ => true else i => bit(vv, i)
        val dict = dicts.getOrElse(spec.dictId,
          throw new IllegalArgumentException(s"dictionary ${spec.dictId} not seen"))
        val d = nextBuf()
        (0 until n).foreach { i =>
          acc(ci) += (if (!valid(i)) null
          else {
            val ix = longAt(d, spec.idxWidth, i).toInt
            require(ix >= 0 && ix < dict.length, s"dictionary index $ix out of range")
            dict(ix)
          })
        }
      } else acc(ci) ++= readField(spec.col.typ)
    }
  }

  // ----------------------------------------------------------- walks

  /** One encapsulated message at `p`: (metadata flatbuffer, body start,
    * next position); None at end-of-stream.
    */
  private def message(bytes: Array[Byte], p: Int): Option[(Fb, Int, Long, Int)] = {
    if (p + 8 > bytes.length) return None
    var q = p
    var metaLen = le32(bytes, q)
    if (metaLen == -1) { q += 4; metaLen = le32(bytes, q) } // continuation
    q += 4
    if (metaLen == 0) return None // end-of-stream marker
    require(metaLen > 0 && q + metaLen <= bytes.length, "truncated message metadata")
    val fb = new Fb(bytes, q, q + metaLen)
    val msgT = fb.root()
    val bodyLen = fb.fieldI64(msgT, 3, 0L)
    val bodyStart = q + metaLen
    require(bodyStart + bodyLen <= bytes.length, "truncated message body")
    Some((fb, msgT, bodyStart.toLong, (bodyStart + bodyLen).toInt))
  }

  /** Parse an Arrow FILE (Feather v2) or STREAM payload. */
  def table(bytes: Array[Byte]): Either[String, ArrowTable] = {
    try {
      if (bytes == null || bytes.length < 12)
        return Left("too small")
      val isFile = bytes.take(6).sameElements(Magic)
      var schema: Seq[FieldSpec] = null
      var acc: Array[scala.collection.mutable.ArrayBuffer[AnyRef]] = null
      val dicts = scala.collection.mutable.Map.empty[Long, Array[AnyRef]]
      def onMessage(fb: Fb, msgT: Int, bodyStart: Long): Unit = {
        val headerType = { val p = fb.field(msgT, 1); if (p < 0) 0 else fb.u8(p) }
        val headerT = fb.fieldOffset(msgT, 2)
        headerType match {
          case 1 => // Schema
            schema = readSchema(fb, headerT)
            acc = Array.fill(schema.size)(scala.collection.mutable.ArrayBuffer.empty[AnyRef])
          case 3 => // RecordBatch
            require(schema != null, "record batch before schema")
            readBatch(fb, headerT, bytes, bodyStart, schema, acc, dicts)
          case 2 => // DictionaryBatch: REPLACEMENT or DELTA values
            require(schema != null, "dictionary batch before schema")
            val id = fb.fieldI64(headerT, 0, 0L)
            val isDelta = fb.fieldBool(headerT, 2, dflt = false)
            val spec = schema.find(_.dictId == id).getOrElse(
              throw new IllegalArgumentException(s"dictionary $id not in schema"))
            val dataT = fb.fieldOffset(headerT, 1)
            require(dataT >= 0, "dictionary batch without data")
            val one = Array.fill(1)(scala.collection.mutable.ArrayBuffer.empty[AnyRef])
            readBatch(fb, dataT, bytes, bodyStart,
              Seq(FieldSpec(spec.col, -1L, 0)), one, dicts)
            if (isDelta) {
              // Format.md "delta dictionaries": values APPEND to the id's
              // existing entries — indices written before the delta stay
              // valid, later batches may index the extended range
              val prev = dicts.getOrElse(id, throw new IllegalArgumentException(
                s"delta batch for unseen dictionary $id"))
              dicts(id) = prev ++ one(0)
            } else dicts(id) = one(0).toArray
          case _ => () // ignorable message
        }
      }
      if (isFile) {
        // tail: int32 footer length + magic
        val tailMagic = java.util.Arrays.copyOfRange(bytes, bytes.length - 6, bytes.length)
        require(tailMagic.sameElements(Magic), "bad tail magic")
        val footerLen = le32(bytes, bytes.length - 10)
        val footerStart = bytes.length - 10 - footerLen
        require(footerLen > 0 && footerStart >= 8, "bad footer length")
        val fb = new Fb(bytes, footerStart, footerStart + footerLen)
        val footerT = fb.root()
        val schemaT = fb.fieldOffset(footerT, 1)
        require(schemaT >= 0, "footer without schema")
        schema = readSchema(fb, schemaT)
        acc = Array.fill(schema.size)(scala.collection.mutable.ArrayBuffer.empty[AnyRef])
        // Block struct: offset long, metaDataLength int, (pad), bodyLength long
        def walkBlocks(fieldId: Int): Unit = {
          val blocks = fb.fieldOffset(footerT, fieldId)
          if (blocks >= 0) (0 until fb.vecLen(blocks)).foreach { i =>
            val bp = fb.vecElem(blocks, i, 24)
            val off = fb.i64(bp)
            require(off >= 8 && off < bytes.length, "block offset out of range")
            message(bytes, off.toInt) match {
              case Some((mfb, msgT, bodyStart, _)) => onMessage(mfb, msgT, bodyStart)
              case None => throw new IllegalArgumentException("empty block")
            }
          }
        }
        walkBlocks(2) // dictionaries first
        walkBlocks(3) // then record batches
      } else {
        var p = 0
        var continue = true
        while (continue) message(bytes, p) match {
          case Some((mfb, msgT, bodyStart, next)) =>
            onMessage(mfb, msgT, bodyStart); p = next
          case None => continue = false
        }
        require(schema != null, "stream without schema")
      }
      val nRows = if (acc.isEmpty) 0 else acc(0).length
      require(acc.forall(_.length == nRows), "ragged columns")
      Right(ArrowTable(schema.map(_.col), nRows, acc.map(_.toArray).toSeq))
    } catch {
      case e: Exception => Left(String.valueOf(e.getMessage))
    }
  }

  // --------------------------------------------------------- fixtures

  /** Real-encoder fixture: (doc_id int64, source utf8 nullable,
    * text utf8, marks list<int64>, meta struct<rank:int64,tag:utf8>,
    * props map<utf8,int64>) written by the Arrow Java
    * `ArrowFileWriter` from the Spark classpath — an independent
    * implementation — split into `batchRows`-row record batches.
    * `nullSourceEvery` > 0 nulls `source` on every k-th row
    * (validity-bitmap witness). Nested cells are closed-form per doc
    * so an oracle can replay them:
    * `marks` NULL when doc_id ≡ 0 (mod 9) else [id%7, id%5, id%3];
    * `meta` NULL when doc_id ≡ 5 (mod 13) else
    * (rank = id%11, tag = "t" + id%4);
    * `props` NULL when doc_id ≡ 3 (mod 17) else
    * ("a" → id%6, plus "b" → id%10 on even ids).
    */
  def fixture(recs: Seq[(Long, String, String)], batchRows: Int,
      nullSourceEvery: Int = 0, compress: String = "none"): Array[Byte] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.{ListVector, StructVector}
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import scala.jdk.CollectionConverters._
    val alloc = new RootAllocator()
    try {
      val fields = List(
        new Field("doc_id", FieldType.nullable(new ArrowType.Int(64, true)), null),
        new Field("source", FieldType.nullable(new ArrowType.Utf8()), null),
        new Field("text", FieldType.nullable(new ArrowType.Utf8()), null),
        new Field("marks", FieldType.nullable(new ArrowType.List()),
          List(new Field("item",
            FieldType.nullable(new ArrowType.Int(64, true)), null)).asJava),
        new Field("meta", FieldType.nullable(new ArrowType.Struct()),
          List(
            new Field("rank", FieldType.nullable(new ArrowType.Int(64, true)), null),
            new Field("tag", FieldType.nullable(new ArrowType.Utf8()), null)).asJava),
        new Field("props", FieldType.nullable(new ArrowType.Map(false)),
          List(new Field(org.apache.arrow.vector.complex.MapVector.DATA_VECTOR_NAME,
            FieldType.notNullable(new ArrowType.Struct()),
            List(
              new Field(org.apache.arrow.vector.complex.MapVector.KEY_NAME,
                FieldType.notNullable(new ArrowType.Utf8()), null),
              new Field(org.apache.arrow.vector.complex.MapVector.VALUE_NAME,
                FieldType.nullable(new ArrowType.Int(64, true)), null)).asJava)).asJava))
      val root = VectorSchemaRoot.create(new ASchema(fields.asJava), alloc)
      val bos = new java.io.ByteArrayOutputStream()
      val ch = java.nio.channels.Channels.newChannel(bos)
      // compressed variants use the real writer's BodyCompression path
      // (arrow-compression's factory) — still a foreign encoder
      val w = compress match {
        case "none" => new ArrowFileWriter(root, null, ch)
        case c =>
          val codecType = c match {
            case "lz4" => org.apache.arrow.vector.compression.CompressionUtil.CodecType.LZ4_FRAME
            case "zstd" => org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD
            case other => throw new IllegalArgumentException(s"fixture compress=$other")
          }
          new ArrowFileWriter(root, null, ch,
            new java.util.HashMap[String, String](),
            org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
            org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE,
            codecType)
      }
      w.start()
      recs.grouped(math.max(1, batchRows)).foreach { group =>
        root.allocateNew()
        val ids = root.getVector("doc_id").asInstanceOf[BigIntVector]
        val srcs = root.getVector("source").asInstanceOf[VarCharVector]
        val txts = root.getVector("text").asInstanceOf[VarCharVector]
        val marks = root.getVector("marks").asInstanceOf[ListVector]
        val lw = marks.getWriter
        val meta = root.getVector("meta").asInstanceOf[StructVector]
        val rankV = meta.getChild("rank").asInstanceOf[BigIntVector]
        val tagV = meta.getChild("tag").asInstanceOf[VarCharVector]
        val props = root.getVector("props")
          .asInstanceOf[org.apache.arrow.vector.complex.MapVector]
        val pw = props.getWriter
        group.zipWithIndex.foreach { case ((id, src, text), i) =>
          ids.setSafe(i, id)
          if (nullSourceEvery > 0 && id % nullSourceEvery == 0) srcs.setNull(i)
          else srcs.setSafe(i, src.getBytes("UTF-8"))
          txts.setSafe(i, text.getBytes("UTF-8"))
          if (id % 9 != 0) { // id % 9 == 0 rows stay NULL (never started)
            lw.setPosition(i)
            lw.startList()
            Seq(id % 7, id % 5, id % 3).foreach(v => lw.bigInt().writeBigInt(v))
            lw.endList()
          }
          if (id % 13 != 5) { // id % 13 == 5 rows: NULL struct
            meta.setIndexDefined(i)
            rankV.setSafe(i, id % 11)
            tagV.setSafe(i, s"t${id % 4}".getBytes("UTF-8"))
          }
          if (id % 17 != 3) { // id % 17 == 3 rows: NULL map
            pw.setPosition(i)
            pw.startMap()
            def entry(k: String, v: Long): Unit = {
              pw.startEntry()
              pw.key().varChar().writeVarChar(
                new org.apache.arrow.vector.util.Text(k))
              pw.value().bigInt().writeBigInt(v)
              pw.endEntry()
            }
            entry("a", id % 6)
            if (id % 2 == 0) entry("b", id % 10)
            pw.endMap()
          }
        }
        root.setRowCount(group.size)
        w.writeBatch()
      }
      w.end(); w.close(); root.close()
      bos.toByteArray
    } finally alloc.close()
  }

  // ------------------------------------------------------------- Spark

  final case class DocRow(
      chunk: Long,
      doc_id: java.lang.Long,
      source: String,
      text: String,
      marks: Seq[java.lang.Long],
      meta_rank: java.lang.Long,
      meta_tag: String,
      props_n: java.lang.Long,
      props_sum: java.lang.Long,
      corrupt: Boolean)

  /** Partition-parallel walk of (chunk, payload) rows carrying
    * (doc_id, source, text[, marks list<int64>][, meta
    * struct<rank:int64,tag:utf8>][, props map<utf8,int64>]) Arrow
    * files; a quarantined file yields one corrupt row for its chunk.
    * `marks` / `meta_*` / `props_*` are null when the column is
    * absent or the cell is null; `props_n`/`props_sum` are the entry
    * count and value sum of the map cell (the row-shaped witness —
    * the full pair list stays in [[table]]'s generic output).
    */
  def parseDocs(media: org.apache.spark.sql.DataFrame)(
      implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[DocRow] = {
    import spark.implicits._
    media.select("chunk", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (chunk, bytes) =>
        table(bytes) match {
          case Right(t) =>
            val name = t.cols.map(_.name)
            val id = name.indexOf("doc_id")
            val so = name.indexOf("source")
            val tx = name.indexOf("text")
            val mk = name.indexOf("marks")
            val mt = name.indexOf("meta")
            val pr = name.indexOf("props")
            // member positions inside the struct cell, from the decoded
            // type string (declaration order, writer-independent) —
            // split on TOP-LEVEL commas only: a nested member (e.g.
            // struct<x:map<utf8,int64>,rank:int64>) carries commas a
            // naive split would mis-index members by
            val (rankIx, tagIx) =
              if (mt < 0) (-1, -1)
              else {
                val ms = splitTop(t.cols(mt).typ.drop(7).dropRight(1))
                  .map(_.takeWhile(_ != ':'))
                (ms.indexOf("rank"), ms.indexOf("tag"))
              }
            if (id < 0 || so < 0 || tx < 0)
              Iterator(DocRow(chunk, null, null, null, null, null, null,
                null, null, corrupt = true))
            else (0 until t.nRows).iterator.map { i =>
              // a shape mismatch between the declared member list and the
              // decoded cell (wrong index, wrong member type) must land
              // as the file's corrupt row, not escape as a task failure
              try {
                val marks =
                  if (mk < 0 || t.values(mk)(i) == null) null
                  else t.values(mk)(i).asInstanceOf[Seq[AnyRef]]
                    .map(_.asInstanceOf[java.lang.Long])
                val metaCell =
                  if (mt < 0 || t.values(mt)(i) == null) null
                  else t.values(mt)(i).asInstanceOf[Vector[AnyRef]]
                val propsCell =
                  if (pr < 0 || t.values(pr)(i) == null) null
                  else t.values(pr)(i).asInstanceOf[Vector[(AnyRef, AnyRef)]]
                DocRow(chunk,
                  t.values(id)(i).asInstanceOf[java.lang.Long],
                  t.values(so)(i).asInstanceOf[String],
                  t.values(tx)(i).asInstanceOf[String],
                  marks,
                  if (metaCell == null || rankIx < 0 ||
                    rankIx >= metaCell.length) null
                  else metaCell(rankIx).asInstanceOf[java.lang.Long],
                  if (metaCell == null || tagIx < 0 ||
                    tagIx >= metaCell.length) null
                  else metaCell(tagIx).asInstanceOf[String],
                  if (propsCell == null) null
                  else java.lang.Long.valueOf(propsCell.length.toLong),
                  if (propsCell == null) null
                  else java.lang.Long.valueOf(propsCell.map(
                    _._2.asInstanceOf[java.lang.Long].longValue).sum),
                  corrupt = false)
              } catch {
                case _: ClassCastException | _: IndexOutOfBoundsException =>
                  DocRow(chunk, null, null, null, null, null, null,
                    null, null, corrupt = true)
              }
            }
          case Left(_) =>
            Iterator(DocRow(chunk, null, null, null, null, null, null,
              null, null, corrupt = true))
        }
      })
  }
}
