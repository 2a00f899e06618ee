package perfbench

import java.util.concurrent.{CompletableFuture, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel._
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._

import graft.odf._
import graft.odf.server.{FlatbuffersPayloadCodec, GrpcWire}

/** A coordinator-side gRPC client: one HTTP/2 cleartext connection, one
  * stream per call, flatbuffers payloads in the engine-proto envelope. Calls
  * are blocking (closed loop): the caller waits for each reply. */
final class GrpcClient(group: EventLoopGroup, port: Int) extends AutoCloseable {

  private val channel: Channel = new Bootstrap().group(group).channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[Channel] {
      override def initChannel(c: Channel): Unit = {
        c.pipeline().addLast(Http2FrameCodecBuilder.forClient().build())
        c.pipeline().addLast(new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
      }
    })
    .connect("127.0.0.1", port).sync().channel()

  private final class Reply(done: CompletableFuture[(Int, String, Array[Byte])])
      extends ChannelInboundHandlerAdapter {
    private val buf = Unpooled.compositeBuffer()
    private var status = -1
    private var message = ""

    override def channelRead(ctx: ChannelHandlerContext, msg: Any): Unit = msg match {
      case h: Http2HeadersFrame =>
        Option(h.headers.get("grpc-status")).foreach(s => status = s.toString.toInt)
        Option(h.headers.get("grpc-message")).foreach(m => message = m.toString)
        if (h.isEndStream) finish()
      case d: Http2DataFrame =>
        buf.addComponent(true, d.content.retain())
        d.release()
        if (d.isEndStream) finish()
      case other => io.netty.util.ReferenceCountUtil.release(other)
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      if (!done.isDone) done.completeExceptionally(new IllegalStateException("stream closed early"))
      super.channelInactive(ctx)
    }

    private def finish(): Unit = {
      val bytes = new Array[Byte](buf.readableBytes())
      buf.readBytes(bytes)
      buf.release()
      done.complete((status, message, bytes))
      ()
    }
  }

  private def call(method: String, payload: Array[Byte]): Array[Byte] = {
    val done = new CompletableFuture[(Int, String, Array[Byte])]()
    val stream = new Http2StreamChannelBootstrap(channel).handler(new Reply(done)).open().sync().getNow
    val headers = new DefaultHttp2Headers()
      .method("POST").scheme("http").path(method)
      .authority(s"127.0.0.1:$port")
      .set("content-type", "application/grpc")
      .set("te", "trailers")
    stream.write(new DefaultHttp2HeadersFrame(headers))
    stream.writeAndFlush(new DefaultHttp2DataFrame(
      Unpooled.wrappedBuffer(GrpcWire.frame(GrpcWire.encodeEnvelope(payload))), true))
    val (status, message, body) = done.get(170, TimeUnit.SECONDS)
    if (status != 0) throw new IllegalStateException(s"grpc-status $status: $message")
    GrpcWire.unframe(body) match {
      case Seq(one) => GrpcWire.decodeEnvelope(one)
      case many => throw new IllegalStateException(s"expected one response message, got ${many.size}")
    }
  }

  def transform(r: TransformRequest): Either[EngineError, TransformResponseSuccess] =
    FlatbuffersPayloadCodec.readTransformResponse(
      call("/engine.Engine/ExecuteTransform", FlatbuffersPayloadCodec.writeTransformRequest(r)))

  def rawQuery(r: RawQueryRequest): Either[EngineError, RawQueryResponseSuccess] =
    FlatbuffersPayloadCodec.readRawQueryResponse(
      call("/engine.Engine/ExecuteRawQuery", FlatbuffersPayloadCodec.writeRawQueryRequest(r)))

  override def close(): Unit = { channel.close().sync(); () }
}
