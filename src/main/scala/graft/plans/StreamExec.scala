package graft.plans

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{IntVector, ValueVector}
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{RowToColumnarExec, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{ArrowProtocol, ChildProcess, ChildProcessPool, RdfProtocol, TsvProtocol}

/** Physical `stream()` operator (reference `PhysicalStream`,
  * `src/PhysicalStream.cpp:59-176`): per partition, fork one child
  * process, optionally replay the broadcast side input first, then
  * ping-pong the partition's rows chunk-by-chunk and materialize the
  * responses.
  *
  * Execution properties:
  *  - narrow over `input` — one child per task, data stays
  *    partition-local, no shuffle introduced; output partitioning is
  *    unknown by construction (reference declares "undefined" output
  *    distribution, `src/PhysicalStream.cpp:129-159`);
  *  - `side` declares [[BroadcastDistribution]], so planning inserts a
  *    real `BroadcastExchangeExec` (reference: ARRAY2 must be replicated,
  *    `src/PhysicalStream.cpp:137-143`) — the side plan executes lazily
  *    on the cluster and its broadcast is shared/reused by the planner
  *    rather than collected eagerly on the driver;
  *  - rows are consumed and produced as `InternalRow` — no external-Row
  *    round trip through `df.rdd` / `createDataFrame`.
  *
  * Every wire format (TSV, R-DF, Arrow) runs through the same protocol
  * loop, as in the reference: a format supplies only its frame writers,
  * its end-of-data writer, its response reader and how one response
  * becomes rows or a `ColumnarBatch`.
  *
  * The concurrent-writer discipline per exchange is load-bearing: a
  * child that starts answering before consuming the whole chunk would
  * fill its 64 KB stdout pipe and deadlock both sides (the reference
  * uses a poll() loop, `src/ChildProcess.cpp:130-225`; JVM pipes have
  * none, so a helper thread writes while the task thread drains).
  */
case class StreamExec(
    input: SparkPlan,
    side: Option[SparkPlan],
    cmd: String,
    format: StreamFormat,
    chunkSize: Int,
    output: Seq[Attribute],
    sideLocal: Boolean = false,
    reuseChildren: Boolean = false) extends SparkPlan {

  override def children: Seq[SparkPlan] = input +: side.toSeq

  override def producedAttributes: AttributeSet = outputSet

  /** Replicated side input declares [[BroadcastDistribution]]; local
    * mode (the reference's non-replicated ARRAY2, where each instance
    * streams its local chunks — `src/PhysicalStream.cpp:74-100`) leaves
    * the side unexchanged and zips side partition i to input partition
    * i's child at execution.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution +: side.map(_ =>
      if (sideLocal) UnspecifiedDistribution
      else BroadcastDistribution(IdentityBroadcastMode)).toSeq

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numChildren" -> SQLMetrics.createMetric(sparkContext, "child processes forked"))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): StreamExec =
    copy(input = newChildren(0),
      side = if (side.isDefined) Some(newChildren(1)) else None)

  /** The Arrow format is columnar end-to-end: the child's IPC response
    * vectors are handed to Spark zero-copy (wrapped as
    * `ArrowColumnVector`s) and the planner inserts a codegen'd
    * ColumnarToRow only where a row consumer needs it. TSV responses
    * are one string row per message — nothing to vectorize.
    */
  override def supportsColumnar: Boolean =
    format.isInstanceOf[StreamFormat.Arrow]

  /** One half-duplex exchange: `write` runs on a helper thread while the
    * task thread runs `read`, whose result is returned. Failure handling
    * mirrors the reference's liveness loop: a writer failure is surfaced
    * as the root cause, and a dead child gets the clearer
    * premature-exit diagnostic.
    */
  private def exchange[R](child: ChildProcess)(write: => Unit)(read: => R): R = {
    @volatile var werr: Throwable = null
    val writer = new Thread(() =>
      try write catch { case t: Throwable =>
        werr = t
        child.terminate() // unblock the reader; the exchange is dead
      })
    writer.setDaemon(true)
    writer.start()
    val resp =
      try read
      catch { case re: Throwable =>
        writer.join(60000)
        if (werr != null && !werr.isInstanceOf[java.io.IOException]) throw werr
        if (werr != null) { child.throwIfDead(); throw werr }
        throw re
      }
    writer.join(60000)
    if (writer.isAlive) {
      // writer still blocked on the child's stdin: starting the next
      // exchange would run two writers on one stream and interleave
      // bytes — kill the child and fail the task instead
      child.terminate()
      sys.error(s"stream writer stuck >60s feeding child stdin ($cmd); child terminated")
    }
    if (werr != null) { child.throwIfDead(); throw werr }
    resp
  }

  /** Broadcast of the side input. When this operator is columnar, the
    * planner's transition rule wraps EVERY child — including the
    * BroadcastExchangeExec the side distribution produced — in
    * RowToColumnarExec, which cannot executeBroadcast; unwrap it and
    * take the broadcast from the exchange itself.
    */
  private def sideBroadcast(p: SparkPlan): Broadcast[Array[InternalRow]] =
    p match {
      case r: RowToColumnarExec => r.child.executeBroadcast[Array[InternalRow]]()
      case other => other.executeBroadcast[Array[InternalRow]]()
    }

  /** Input rows regardless of the child's chosen format: when this
    * operator declares columnar support, the planner hands it columnar
    * CHILDREN too (no ColumnarToRow is inserted below), so a columnar
    * child must be consumed via executeColumnar and its batches
    * row-iterated. Rows are only valid until the next batch — callers
    * copy (Arrow, R-DF) or format immediately (TSV), as with any row
    * input.
    */
  private def inputRows(): RDD[InternalRow] =
    if (input.supportsColumnar)
      input.executeColumnar().mapPartitions(_.flatMap(_.rowIterator().asScala))
    else input.execute()

  /** One task's share of the stream: its context (null outside a task),
    * partition id, child process and the side rows that child sees first.
    */
  private case class Task(ctx: TaskContext, pid: Long, child: ChildProcess,
                          sideRows: IndexedSeq[InternalRow]) {
    /** Run `f` when the task ends, however it ends; cleanup never fails it. */
    def onEnd(f: => Unit): Unit =
      if (ctx != null) ctx.addTaskCompletionListener[Unit] { _ =>
        try f catch { case _: Throwable => () }
      }
  }

  /** Per-task set-up every format shares: the task's child (pooled or
    * freshly forked — only forks count in `numChildren`) and its side
    * rows — the whole broadcast table, or in local mode side partition i
    * zipped to input partition i. The caller aligns the partitionings;
    * zipPartitions rejects unequal partition counts with a clear error.
    * The local side plan row-executes even under the columnar transition
    * rule: RowToColumnarExec.doExecute delegates to its child's rows.
    */
  private def perPartition[T: ClassTag, O: ClassTag](in: RDD[T])(
      body: (Iterator[T], Task) => Iterator[O]): RDD[O] = {
    val kids = longMetric("numChildren")
    val sideBc = if (sideLocal) None else side.map(sideBroadcast)
    def run(it: Iterator[T], sideRows: IndexedSeq[InternalRow]): Iterator[O] = {
      val ctx = TaskContext.get()
      val (child, forked) = ChildProcessPool.acquire(cmd, Option(ctx), reuseChildren)
      if (forked) kids += 1
      val pid = if (ctx == null) 0L else ctx.partitionId().toLong
      body(it, Task(ctx, pid, child, sideRows))
    }
    if (sideLocal && side.isDefined)
      in.zipPartitions(side.get.execute())((it, sit) => run(it, sit.map(_.copy()).toIndexedSeq))
    else
      in.mapPartitions(it => run(it, sideBc.map(_.value.toIndexedSeq).getOrElse(IndexedSeq.empty)))
  }

  /** The protocol loop every format shares. Pull-driven: each exchange
    * runs only when the consumer needs more output, so a partition's
    * output is never materialized whole — a child with large fan-out
    * streams through bounded memory (one response message at a time;
    * the 1 GB per-message cap is the protocol's own bound).
    *
    * Exchanges run in order: the side chunk (only when there are side
    * rows — O16: no frame is ever empty), one per data frame, then
    * end-of-data; after that the child goes back to [[ChildProcessPool]].
    * `read(last)` returns None for the "no data right now" reply;
    * `decode(response, chunkNo)` turns a data-bearing response into
    * output, and `chunkNo` counts only those responses. `retire` runs on
    * the task thread before each exchange starts its writer and before
    * release. Child teardown on failure or downstream early exit (limit)
    * is owned by the `TaskContext` completion listener registered in
    * `ChildProcess`.
    */
  private def protocol[R, O](t: Task, sideFrame: IndexedSeq[InternalRow] => () => Unit,
                             frames: Iterator[() => Unit], eof: () => Unit,
                             read: Boolean => Option[R], decode: (R, Long) => O,
                             retire: () => Unit = () => ()): Iterator[O] = {
    var chunkNo = -1L
    val writes = Iterator.single(t.sideRows).filter(_.nonEmpty).map(sideFrame) ++ frames
    (writes.map((_, false)) ++ Iterator.single((eof, true))).flatMap { case (write, last) =>
      retire()
      exchange(t.child)(write())(read(last)).map { r => chunkNo += 1; decode(r, chunkNo) }
    } ++ {
      retire()
      ChildProcessPool.release(cmd, t.child, reuseChildren)
      Iterator.empty
    }
  }

  protected override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val StreamFormat.Arrow(declared) = format: @unchecked
    val outRows = longMetric("numOutputRows")
    val inSchema = input.schema
    val sideSchema = side.map(_.schema).orNull
    val chunk = chunkSize

    /** One response as a batch: the child's vectors wrapped zero-copy,
      * plus the three lineage columns.
      */
    def toBatch(reader: ArrowStreamReader, pid: Long, chunkNo: Long): ColumnarBatch = {
      val root = reader.getVectorSchemaRoot
      val n = root.getRowCount
      val dataCols: Seq[ColumnVector] =
        root.getFieldVectors.asScala.toSeq.zip(declared.fields).map {
          // pandas int32 response for a declared int64 column: the
          // one widening case the row path tolerates — copy those n
          // values; every exact-match column is wrapped zero-copy
          case (v: IntVector, f) if f.dataType == LongType =>
            val c = new OnHeapColumnVector(n, LongType)
            var i = 0
            while (i < n) {
              if (v.isNull(i)) c.putNull(i) else c.putLong(i, v.get(i).toLong)
              i += 1
            }
            c
          case (v, _) => new ArrowColumnVector(v: ValueVector)
        }
      val lineage = (0 until 3).map(_ => new OnHeapColumnVector(math.max(n, 1), LongType))
      var i = 0
      while (i < n) {
        lineage(0).putLong(i, pid)
        lineage(1).putLong(i, chunkNo)
        lineage(2).putLong(i, i.toLong)
        i += 1
      }
      outRows += n
      new ColumnarBatch((dataCols ++ lineage).toArray, n)
    }

    /** The Arrow side of [[protocol]] for one task; `frames` builds the
      * data frames against the task's allocator.
      */
    def arrowPartition(t: Task)(
        frames: RootAllocator => Iterator[() => Unit]): Iterator[ColumnarBatch] = {
      val allocator = new RootAllocator(Long.MaxValue)
      var pendingBatch: ColumnarBatch = null
      var pendingReader: ArrowStreamReader = null
      // A handed-out batch stays valid until the consumer pulls the next
      // one (the standard columnar-scan contract). Closing is also where
      // the one-RecordBatch-per-message rule is enforced: checking
      // earlier would clobber the zero-copied buffers.
      def retire(): Unit = {
        if (pendingBatch != null) { pendingBatch.close(); pendingBatch = null }
        if (pendingReader != null) {
          val more =
            try pendingReader.loadNextBatch()
            catch { case _: Throwable => false }
          pendingReader.close()
          pendingReader = null
          if (more) throw new java.io.IOException(
            "expected exactly one RecordBatch per message")
        }
      }
      t.onEnd { try retire() finally allocator.close() }
      val stdin = t.child.stdin
      protocol[ArrowStreamReader, ColumnarBatch](t,
        rows => () => ArrowProtocol.writeBatchInternal(stdin, allocator, sideSchema, rows),
        frames(allocator),
        () => ArrowProtocol.writeEof(stdin),
        last => ArrowProtocol.readMessageReader(t.child.stdout, t.child, allocator,
          declared, lastMessage = last),
        (reader, chunkNo) => {
          pendingReader = reader
          pendingBatch = toBatch(reader, t.pid, chunkNo)
          pendingBatch
        },
        () => retire())
    }

    if (input.supportsColumnar) {
      // Columnar children (vectorized parquet scan, an upstream Arrow
      // pipe) encode column-at-a-time straight from their vectors — no
      // InternalRow materialization, no per-row copy.
      perPartition(input.executeColumnar()) { (batches, t) =>
        arrowPartition(t) { allocator =>
          val buf = new ArrowProtocol.ColumnarFrameBuffer(inSchema, allocator)
          // registered after arrowPartition's allocator-close listener:
          // completion listeners run LIFO, so the buffer's root closes
          // before the allocator it was allocated from
          t.onEnd(buf.close())
          // one frame = exactly `chunk` rows (the declared chunk_size),
          // accumulated across scan batches — `append` copies into the
          // Arrow builders, so pulling the next (buffer-recycling) scan
          // batch mid-frame is safe. Filling only happens between
          // exchanges: the loop pulls the next frame only after the
          // previous frame's writer thread has been joined.
          var cur: ColumnarBatch = null
          var off = 0
          def fill(): Unit =
            while (buf.rowCount < chunk && (cur != null || batches.hasNext)) {
              if (cur == null) { cur = batches.next(); off = 0 }
              val take = math.min(chunk - buf.rowCount, cur.numRows - off)
              if (take > 0) { buf.append(cur, off, take); off += take }
              if (off >= cur.numRows) cur = null
            }
          Iterator.continually(fill()).takeWhile(_ => buf.rowCount > 0) // O16
            .map(_ => () => buf.writeAndReset(t.child.stdin))
        }
      }
    } else {
      // row children: copy before grouping (the input iterator may reuse
      // row objects across next() calls)
      perPartition(input.execute()) { (rows, t) =>
        arrowPartition(t) { allocator =>
          rows.map(_.copy()).grouped(chunk).map { c =>
            () => ArrowProtocol.writeBatchInternal(t.child.stdin, allocator, inSchema, c)
          }
        }
      }
    }
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val outRows = longMetric("numOutputRows")
    val inSchema = input.schema
    val sideSchema = side.map(_.schema).orNull
    val outSchema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    val chunk = chunkSize
    val rows: RDD[InternalRow] = format match {
      case StreamFormat.Tsv =>
        // each response message becomes one string row
        perPartition(inputRows()) { (in, t) =>
          val stdin = t.child.stdin
          def frame(lines: Seq[String]): () => Unit =
            () => TsvProtocol.writeChunk(stdin, lines.iterator, lines.size)
          // format before grouping: the input iterator may reuse row
          // objects, but formatted strings are immutable
          protocol[String, Iterator[InternalRow]](t,
            side => frame(side.map(TsvProtocol.formatInternalRow(_, sideSchema))),
            in.map(TsvProtocol.formatInternalRow(_, inSchema)).grouped(chunk).map(frame),
            () => TsvProtocol.writeEof(stdin),
            // null = the protocol's "no data right now"; an empty string
            // is a real one-empty-line response and keeps its row
            last => Option(TsvProtocol.readMessage(t.child.stdout, t.child, lastMessage = last)),
            (resp, chunkNo) => {
              outRows += 1
              Iterator.single(new GenericInternalRow(
                Array[Any](t.pid, chunkNo, UTF8String.fromString(resp))))
            }).flatten
        }

      case StreamFormat.Rdf(declared) =>
        // a response is a typed column set: decoded rows + lineage
        perPartition(inputRows()) { (in, t) =>
          val stdin = t.child.stdin
          // copy before grouping: the input iterator may reuse row
          // objects, and the column-major encoder traverses each chunk
          // once per column
          protocol[Array[InternalRow], Iterator[InternalRow]](t,
            side => () => RdfProtocol.writeChunk(stdin, side, sideSchema),
            in.map(_.copy()).grouped(chunk).map { c =>
              () => RdfProtocol.writeChunk(stdin, c.toIndexedSeq, inSchema)
            },
            () => RdfProtocol.writeEof(stdin),
            last => Option(RdfProtocol.readMessage(t.child.stdout, t.child, declared,
              lastMessage = last)),
            (resp, chunkNo) => Iterator.tabulate(resp.length) { j =>
              outRows += 1
              new JoinedRow(resp(j), new GenericInternalRow(Array[Any](t.pid, chunkNo, j.toLong)))
            }).flatten
        }

      case StreamFormat.Arrow(_) =>
        // the planner never row-executes a columnar-only operator
        // (supportsRowBased = !supportsColumnar, so a ColumnarToRowExec
        // is always inserted above); keep a thin delegating fallback
        // instead of a second, drift-prone copy of the protocol loop
        doExecuteColumnar().mapPartitions(_.flatMap(_.rowIterator().asScala))
    }
    rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(outSchema)
      it.map(proj)
    }
  }
}
