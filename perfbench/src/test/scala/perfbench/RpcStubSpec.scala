package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.rpc.{HttpRpcTransport, RpcCodec}

class RpcStubSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("counts each batch element per method, one POST per batch, and the bytes") {
    val stub = new RpcStub(2)
    stub.prerender(100, 104)
    assert(stub.renderedCount == 5 * 4)
    val url = stub.start()
    try {
      val http = HttpRpcTransport(url)
      val blocks = RpcCodec.blocksRequest(100, 104, fullTxs = true)
      val traces = RpcCodec.tracesRequest(100, 102)
      val out1 = http.post(blocks)
      val out2 = http.post(traces)
      val s = stub.snapshot()
      assert(s("calls.eth_getBlockByNumber") == 5.0)
      assert(s("calls.trace_block") == 3.0)
      assert(!s.contains("calls.eth_getBlockReceipts"))
      assert(s("posts") == 2.0)
      assert(s("bytes_in") == (blocks.length + traces.length).toDouble)
      assert(s("bytes_out") == (out1.length + out2.length).toDouble)
      assert(s("errors") == 0.0)
      assert(s("busy_s") > 0.0)
    } finally stub.stop()
  }

  test("answers by id in reverse order with the engine's own node content") {
    val stub = new RpcStub(1)
    stub.prerender(7, 9)
    val resp = mapper.readTree(stub.handle(RpcCodec.receiptsRequest(7, 9)))
    assert((0 until resp.size).map(resp.get(_).get("id").asLong) == Seq(2L, 1L, 0L))
    val parsed = RpcCodec.parseBatchResponse(stub.handle(RpcCodec.receiptsRequest(7, 9)), 0 until 3)
    val direct = RpcCodec.parseBatchResponse(
      graft.sources.rpc.SyntheticRpcServer.handle(RpcCodec.receiptsRequest(7, 9)), 0 until 3)
    assert(parsed.map(mapper.writeValueAsString(_)) == direct.map(mapper.writeValueAsString(_)))
  }

  test("a block outside the rendered range is an error, and counted") {
    val stub = new RpcStub(1)
    stub.prerender(0, 1)
    val resp = mapper.readTree(stub.handle(RpcCodec.tracesRequest(1, 2)))
    assert(resp.size == 2)
    assert(stub.snapshot()("errors") == 1.0)
    assert(stub.snapshot()("calls.trace_block") == 2.0)
  }
}
