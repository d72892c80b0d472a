package graft.streaming

import graft.SparkSpec
import graft.functions.AntelopeAbi

/** SHIP binary wire decode: hand-pinned wire bytes (independent of the
  * codec's own round trip), full get_blocks_result_v0 frames through
  * both action_trace variant arms, idle/status frames, quarantine, and
  * the Spark fan-out.
  */
class ShipWireSpec extends SparkSpec {

  private def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString

  test("wire layout pinned by hand: ack request and blocks request") {
    // request variant arm 2 (get_blocks_ack_request_v0) = varuint 02,
    // then num_messages uint32 LE
    assert(hex(ShipWire.encodeRequest(
      """["get_blocks_ack_request_v0",{"num_messages":5}]""")) ===
      "02" + "05000000")
    // arm 1 (get_blocks_request_v0): 4 uint32s, empty array varuint 00,
    // 4 bools — exactly the reference's baseRequest shape
    assert(hex(ShipWire.encodeRequest(
      """["get_blocks_request_v0",{"start_block_num":1,"end_block_num":4294967295,
         "max_messages_in_flight":1000,"have_positions":[],
         "irreversible_only":false,"fetch_block":true,"fetch_traces":true,
         "fetch_deltas":true}]""")) ===
      "01" + "01000000" + "ffffffff" + "e8030000" + "00" + "00" + "010101")
    // status request is the empty arm 0
    assert(hex(ShipWire.encodeRequest("""["get_status_request_v0",{}]""")) === "00")
  }

  test("block_position layout: uint32 LE + raw checksum256") {
    val bin = AntelopeAbi.jsonToBin(ShipWire.abi, "block_position",
      s"""{"block_num":258,"block_id":"${"AB" * 32}"}""")
    assert(hex(bin) === "02010000" + "ab" * 32)
  }

  test("full frame round trip: counts, gs extremes, both trace arms") {
    val events = Seq((100L, 3L, "click"), (101L, 7L, "view"),
      (102L, 3L, "purchase"))
    val frame = ShipWire.fixtureFrame(42L, events)
    val row = ShipWire.blockRow(frame).get
    assert(!row.corrupt)
    assert(row.block_num === 42L)
    assert(row.block_id === f"${42L}%064X")
    assert(row.prev_id === f"${41L}%064X")
    assert(row.head_num === 42L && row.lib_num === 32L)
    assert(row.producer === "prodc") // 42 % 5 = 2 -> 'c'
    assert(row.schedule_version === 1L)
    assert(row.trx_count === 3L)
    assert(row.cpu_total === (110L + 111L + 112L))
    assert(row.n_traces === 3L && row.n_actions === 3L)
    assert(row.min_gs === 1000100L && row.max_gs === 1000102L)
    // present on id % 3 != 0: 100, 101 yes; 102 no
    assert(row.n_delta_rows === 3L && row.n_deltas_present === 2L)
  }

  test("result field order pinned by hand: block BEFORE traces/deltas") {
    // The real state_history_plugin ABI (and the reference's
    // GetBlocksResultV0, state-reader.ts:20-28) orders the optional
    // binaries block, traces, deltas — wire-significant, so this frame
    // is built BYTE BY HAND, not through the repo's own encoder. The
    // tail is 00 (block absent) 01 01 00 (traces present = the 1-byte
    // empty transaction_trace[]) 00 (deltas absent): a traces-first ABI
    // would misread it as traces absent + deltas present.
    def u32(n: Long) = Array[Byte]((n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
      ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte)
    def id(b: Int) = Array.fill[Byte](32)(b.toByte)
    val frame: Array[Byte] =
      Array[Byte](1) ++ // result variant arm 1 = get_blocks_result_v0
        u32(100) ++ id(0xAA) ++ // head
        u32(90) ++ id(0xBB) ++ // last_irreversible
        Array[Byte](1) ++ u32(100) ++ id(0xCC) ++ // this_block?
        Array[Byte](1) ++ u32(99) ++ id(0xDD) ++ // prev_block?
        Array[Byte](0) ++ // block? absent
        Array[Byte](1, 1, 0) ++ // traces? = bytes[1] {00}: empty trace[]
        Array[Byte](0) // deltas? absent
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(ShipWire.decodeResult(frame))
    val JArray(List(JString(kind), res)) = json: @unchecked
    assert(kind === "get_blocks_result_v0")
    assert((res \ "block") === JNull)
    assert((res \ "traces") === JString("00"))
    assert((res \ "deltas") === JNull)
    val row = ShipWire.blockRow(frame).get
    assert(!row.corrupt && row.block_num === 100L && row.prev_id === "DD" * 32)
    assert(row.n_traces === 0L && row.producer === null)
  }

  test("decode follows the node-shipped ABI, not the bundled copy") {
    // a 'node' that revises the protocol: its first frame orders the
    // result's optionals deltas, traces, block — decoding its frames
    // against the bundled ABI would swap fields, against ITS abi works
    val revised = ShipWire.ShipAbi.replace(
      """{"name": "block", "type": "bytes?"},
        {"name": "traces", "type": "bytes?"},
        {"name": "deltas", "type": "bytes?"}]}""",
      """{"name": "deltas", "type": "bytes?"},
        {"name": "traces", "type": "bytes?"},
        {"name": "block", "type": "bytes?"}]}""")
    assert(revised != ShipWire.ShipAbi) // the replace actually matched
    val nodeAbi = ShipWire.abiFromFirstFrame(revised)
    val json = s"""["get_blocks_result_v0",{
        "head":{"block_num":7,"block_id":"${"00" * 32}"},
        "last_irreversible":{"block_num":5,"block_id":"${"00" * 32}"},
        "this_block":{"block_num":7,"block_id":"${"0A" * 32}"},
        "prev_block":null,"block":null,"traces":"00","deltas":null}]"""
    val frame = AntelopeAbi.jsonToBin(nodeAbi, "result", json)
    val row = ShipWire.blockRow(frame, nodeAbi).get
    assert(!row.corrupt && row.block_num === 7L && row.n_traces === 0L)
    import spark.implicits._
    val df = Seq(frame).toDF("frame")
    val rows = ShipWire.parseFrames(df, Some(revised)).collect()
    assert(rows.length === 1 && rows.head.block_num === 7L)
  }

  test("node ABI with an EXTRA field decodes via the first-frame path") {
    // forward protocol revision: the node's get_blocks_result_v0 grows a
    // trailing optional `proof` field. Frames from that node carry one
    // more optional flag (+payload) than the pinned transcription knows,
    // so they MUST decode against the ABI the node shipped in its first
    // frame — the pinned copy is only the no-first-frame fallback.
    val revised = ShipWire.ShipAbi.replace(
      """{"name": "deltas", "type": "bytes?"}]}""",
      """{"name": "deltas", "type": "bytes?"},
         {"name": "proof", "type": "bytes?"}]}""")
    assert(revised != ShipWire.ShipAbi) // the replace actually matched
    val nodeAbi = ShipWire.abiFromFirstFrame(revised)
    val json = s"""["get_blocks_result_v0",{
        "head":{"block_num":9,"block_id":"${"00" * 32}"},
        "last_irreversible":{"block_num":5,"block_id":"${"00" * 32}"},
        "this_block":{"block_num":9,"block_id":"${"0B" * 32}"},
        "prev_block":null,"block":null,"traces":null,"deltas":null,
        "proof":"AB12"}]"""
    val frame = AntelopeAbi.jsonToBin(nodeAbi, "result", json)
    val row = ShipWire.blockRow(frame, nodeAbi).get
    assert(!row.corrupt && row.block_num === 9L && row.head_num === 9L)
    import spark.implicits._
    val rows = ShipWire.parseFrames(Seq(frame).toDF("frame"), Some(revised)).collect()
    assert(rows.length === 1 && rows.head.block_num === 9L && !rows.head.corrupt)
  }

  test("idle frame (no this_block) and status results are skipped") {
    val idle = ShipWire.encodeResult(
      """["get_blocks_result_v0",{
          "head":{"block_num":9,"block_id":"00"},
          "last_irreversible":{"block_num":5,"block_id":"00"},
          "this_block":null,"prev_block":null,
          "traces":null,"deltas":null,"block":null}]"""
        .replace("\"00\"", "\"" + "00" * 32 + "\""))
    assert(ShipWire.blockRow(idle) === None)
    val status = ShipWire.encodeResult(
      s"""["get_status_result_v0",{
          "head":{"block_num":9,"block_id":"${"00" * 32}"},
          "last_irreversible":{"block_num":5,"block_id":"${"00" * 32}"},
          "trace_begin_block":1,"trace_end_block":10,
          "chain_state_begin_block":1,"chain_state_end_block":10,
          "chain_id":"${"11" * 32}"}]""")
    assert(ShipWire.blockRow(status) === None)
  }

  test("undecodable frame quarantines as one corrupt row") {
    val frame = ShipWire.fixtureFrame(7L, Seq((1L, 1L, "view")))
    frame(0) = 9 // variant index beyond the result arms
    val row = ShipWire.blockRow(frame).get
    assert(row.corrupt && row.block_id === null)
    assert(ShipWire.blockRow(Array[Byte](1, 2, 3)).get.corrupt)
  }

  test("a forged 2^31-1 length prefix quarantines instead of allocating 2 GiB") {
    val frame = ShipWire.fixtureFrame(7L, Seq((1L, 1L, "view")))
    // result variant index (1 byte), head and LIB positions (36 each),
    // this/prev optional positions (37 each), the `block` optional flag:
    // its varuint32 length starts at byte 148. FF FF FF FF 07 = 2^31-1,
    // for which `pos + n` wraps negative in an Int bounds check
    val at = 1 + 36 + 36 + 37 + 37 + 1
    assert(frame(at - 1) === 1, "the `block` optional must be present")
    val overflow = Array(0xFF, 0xFF, 0xFF, 0xFF, 0x07).map(_.toByte)
    System.arraycopy(overflow, 0, frame, at, overflow.length)
    val row = ShipWire.blockRow(frame).get
    assert(row.corrupt && row.block_num === -1L)
    // the same prefix on a bare string throws the decoder's own error
    intercept[AntelopeAbi.AbiError] {
      AntelopeAbi.binToJson(ShipWire.abi, "string", overflow)
    }
  }

  test("nested binaries decode against the same ABI (traces hex is valid)") {
    val frame = ShipWire.fixtureFrame(3L, Seq((10L, 2L, "signup")))
    val json = org.json4s.jackson.JsonMethods.parse(ShipWire.decodeResult(frame))
    import org.json4s._
    val JArray(List(JString(kind), res)) = json: @unchecked
    assert(kind === "get_blocks_result_v0")
    val JString(tracesHex) = (res \ "traces"): @unchecked
    val traces = AntelopeAbi.hexToJson(ShipWire.abi, "transaction_trace[]", tracesHex)
    assert(traces.contains("\"transaction_trace_v0\""))
    assert(traces.contains("\"action_trace_v1\"")) // 10 is even -> v1 arm
    assert(traces.contains("\"graft.token\""))
  }

  test("Spark fan-out: parseFrames walks frames partition-parallel") {
    import spark.implicits._
    val frames = (2L to 9L).map(b =>
      ShipWire.fixtureFrame(b, Seq((b * 10, b, "click"), (b * 10 + 1, b, "view"))))
      .toDF("frame").repartition(4)
    val rows = ShipWire.parseFrames(frames).collect()
    assert(rows.length === 8)
    assert(rows.forall(!_.corrupt))
    assert(rows.map(_.trx_count).sum === 16L)
    assert(rows.map(_.block_num).sorted.toSeq === (2L to 9L))
  }
}
