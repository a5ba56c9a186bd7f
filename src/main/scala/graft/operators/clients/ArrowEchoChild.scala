package graft.operators.clients

import java.io.{FileDescriptor, FileInputStream, FileOutputStream}

import org.apache.arrow.memory.RootAllocator

import graft.operators.{ArrowProtocol, ByteSink, PipeIn, PipeOut}

/** Child-side Arrow protocol client: echoes every batch back verbatim.
  *
  * JVM analog of the reference's echo client (`examples/client.cpp:22-77`)
  * and of the Python `scidbstrm.map(lambda df: df)` loop
  * (`py_pkg/scidbstrm/__init__.py:117-139`): read a length-prefixed IPC
  * frame, answer one frame, and after the zero-length end-of-data frame
  * answer a final empty frame. Used by the ScalaTest protocol suite to
  * validate both directions of the framing.
  *
  * LOOP-STYLE (child pooling): after the end-of-data handshake the
  * client waits for the NEXT stream's first frame instead of exiting —
  * exactly the reference clients' shape, whose `map(f)` loop only ends
  * when the parent closes the pipe. EOF *between* streams is therefore
  * the one clean exit; EOF mid-frame is still a protocol error (inside
  * `readFrame`), told apart by peeking the frame's first byte.
  *
  * The pipe ends are the parent's lock-free [[PipeIn]] / [[PipeOut]]
  * over the raw stdin/stdout descriptors: this JVM runs C1-only, which
  * never elides a per-call monitor.
  */
object ArrowEchoChild {
  def main(args: Array[String]): Unit = {
    val in = new PipeIn(new FileInputStream(FileDescriptor.in))
    val out = new PipeOut(new FileOutputStream(FileDescriptor.out))
    val allocator = new RootAllocator(Long.MaxValue)
    val frame = new ByteSink(1 << 16)
    var done = false
    while (!done) {
      if (in.peek() < 0) {
        done = true // pool shutdown: pipe closed between streams
      } else {
        ArrowProtocol.readFrame(in, null, lastMessage = true) match {
          case None =>
            ArrowProtocol.writeEof(out) // final message: no data; await next stream
          case Some(payload) =>
            // Decode and re-encode (rather than byte-copy) so the test also
            // proves the frames are valid single-batch IPC streams.
            val reader = ArrowProtocol.loadBatch(payload, allocator)
            try ArrowProtocol.writeRoot(out, reader.getVectorSchemaRoot, frame)
            finally reader.close()
        }
      }
    }
  }
}
