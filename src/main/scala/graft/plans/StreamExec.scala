package graft.plans

import java.io.OutputStream

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

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

import graft.operators.{ArrowProtocol, ChildProcess, ChildProcessPool, RdfProtocol, TsvProtocol, WireFrame}

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
  * loop and the same exchange, as in the reference: a format supplies
  * only its frame (a [[WireFrame]] the task thread fills between
  * exchanges), its end-of-data writer, its response reader and how one
  * response becomes rows or a `ColumnarBatch`. Each exchange is
  * [[ChildProcess.exchange]]: a pooled writer thread writes the frame
  * while the task thread reads the answer, so a child that answers
  * before it has read the whole frame cannot deadlock the pipe.
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
    "numChildren" -> SQLMetrics.createMetric(sparkContext, "child processes forked"),
    "bytesToChild" -> SQLMetrics.createSizeMetric(sparkContext, "bytes written to children"),
    "bytesFromChild" -> SQLMetrics.createSizeMetric(sparkContext, "bytes read from children"))

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

  /** Input rows for every format. A columnar child (a vectorized scan,
    * a cached table, an upstream Arrow pipe) is read through its
    * batches' row views. Under the columnar transition rule a row child
    * arrives wrapped in RowToColumnarExec, whose doExecute hands back
    * the child's rows with no columnar detour. A row is valid only until
    * the next is pulled, so every frame copies a row's values as it
    * appends it.
    */
  private def inputRows(): RDD[InternalRow] = input match {
    case c if c.supportsColumnar && !c.isInstanceOf[RowToColumnarExec] =>
      c.executeColumnar().mapPartitions(_.flatMap(_.rowIterator().asScala))
    case rows => rows.execute()
  }

  /** One task's share of the stream: its context (null outside a task),
    * partition id, child process, the input and side schemas, the side
    * rows that child sees first and the byte counters its exchanges add
    * to.
    */
  private case class Task(ctx: TaskContext, pid: Long, child: ChildProcess,
                          inSchema: StructType, sideSchema: StructType,
                          sideRows: IndexedSeq[InternalRow],
                          bytesToChild: SQLMetric, bytesFromChild: SQLMetric) {
    /** Run `f` when the task ends, however it ends; cleanup never fails
      * it, and what cleanup throws is logged.
      */
    def onEnd(f: => Unit): Unit =
      if (ctx != null) ctx.addTaskCompletionListener[Unit] { _ =>
        try f catch { case e: Throwable => logWarning(s"stream task cleanup failed ($cmd)", e) }
      }
  }

  /** Per-task set-up every format shares: the task's input rows, its
    * child (pooled or freshly forked — only forks count in
    * `numChildren`) and its side rows — the whole broadcast table, or in
    * local mode side partition i zipped to input partition i. The caller
    * aligns the partitionings; zipPartitions rejects unequal partition
    * counts with a clear error. The local side plan row-executes even
    * under the columnar transition rule: RowToColumnarExec.doExecute
    * delegates to its child's rows.
    */
  private def perPartition[O: ClassTag](
      body: (Iterator[InternalRow], Task) => Iterator[O]): RDD[O] = {
    val in = inputRows()
    val kids = longMetric("numChildren")
    val toChild = longMetric("bytesToChild")
    val fromChild = longMetric("bytesFromChild")
    val sideBc = if (sideLocal) None else side.map(sideBroadcast)
    val inSchema = input.schema
    val sideSchema = side.map(_.schema).orNull
    def run(it: Iterator[InternalRow], sideRows: IndexedSeq[InternalRow]): Iterator[O] = {
      val ctx = TaskContext.get()
      val (child, forked) = ChildProcessPool.acquire(cmd, Option(ctx), reuseChildren)
      if (forked) kids += 1
      val pid = if (ctx == null) 0L else ctx.partitionId().toLong
      body(it, Task(ctx, pid, child, inSchema, sideSchema, sideRows, toChild, fromChild))
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
    * Exchanges run in order: the side frame (only when there are side
    * rows — O16: no frame is ever empty), one per data frame of
    * `chunkSize` rows, then end-of-data; after that the child goes back
    * to [[ChildProcessPool]]. `frameOf` builds the format's frame for a
    * schema; the task thread fills it from `in` only between exchanges,
    * after the previous frame's write has finished. `read(last)`
    * returns None for the "no data right now" reply; `decode(response,
    * chunkNo)` turns a data-bearing response into output, and `chunkNo`
    * counts only those responses. `retire` runs on the task thread
    * before each exchange and before release. The bytes each way are
    * counted once per exchange, from the pipe ends' running totals.
    * Child teardown on failure or downstream early exit (limit) is owned
    * by the `TaskContext` completion listener registered in
    * `ChildProcess`.
    */
  private def protocol[R, O](t: Task, in: Iterator[InternalRow],
                             frameOf: StructType => WireFrame, eof: OutputStream => Unit,
                             read: Boolean => Option[R], decode: (R, Long) => O,
                             retire: () => Unit = () => ()): Iterator[O] = {
    val stdin = t.child.stdin
    val stdout = t.child.stdout
    var chunkNo = -1L
    def send(write: => Unit, last: Boolean): Iterator[O] = {
      retire()
      val sent0 = stdin.written
      val got0 = stdout.consumed
      val resp = t.child.exchange(write)(read(last))
      t.bytesToChild += stdin.written - sent0
      t.bytesFromChild += stdout.consumed - got0
      // decoded now, not when pulled: a response the consumer never
      // pulls (limit) must still reach `retire`
      resp.map { r => chunkNo += 1; decode(r, chunkNo) }.iterator
    }
    val sideFrames = Iterator.single(t.sideRows).filter(_.nonEmpty).map { rows =>
      val f = frameOf(t.sideSchema)
      rows.foreach(f.appendRow)
      f
    }
    val frame = frameOf(t.inSchema)
    val dataFrames = Iterator.continually {
      while (frame.rows < chunkSize && in.hasNext) frame.appendRow(in.next())
      frame
    }.takeWhile(_.rows > 0) // O16
    (sideFrames ++ dataFrames).flatMap(f => send(f.writeTo(stdin), last = false)) ++
      send(eof(stdin), last = true) ++ {
        retire()
        ChildProcessPool.release(cmd, t.child, reuseChildren)
        Iterator.empty
      }
  }

  protected override def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val StreamFormat.Arrow(declared) = format: @unchecked
    val outRows = longMetric("numOutputRows")

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

    perPartition { (in, t) =>
      val allocator = ArrowProtocol.rootAllocator.newChildAllocator(
        s"stream-task-${t.pid}", 0, Long.MaxValue)
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
      // each buffer's close is registered after the allocator's:
      // completion listeners run LIFO, so its root closes first
      def frameOf(schema: StructType): WireFrame = {
        val buf = new ArrowProtocol.ColumnarFrameBuffer(schema, allocator)
        t.onEnd(buf.close())
        buf
      }
      protocol[ArrowStreamReader, ColumnarBatch](t, in, frameOf, ArrowProtocol.writeEof,
        last => ArrowProtocol.readMessageReader(t.child.stdout, t.child, allocator,
          declared, lastMessage = last),
        (reader, chunkNo) => {
          pendingReader = reader
          pendingBatch = toBatch(reader, t.pid, chunkNo)
          pendingBatch
        },
        () => retire())
    }
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val outRows = longMetric("numOutputRows")
    val outSchema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))

    /** TSV and R-DF share one row path; only the frame, the end-of-data
      * message and the response decoder differ.
      */
    def rowFormat[R](frameOf: StructType => WireFrame, eof: OutputStream => Unit,
                     read: (ChildProcess, Boolean) => Option[R],
                     decode: (R, Long, Long) => Iterator[InternalRow]): RDD[InternalRow] =
      perPartition { (in, t) =>
        protocol[R, Iterator[InternalRow]](t, in, frameOf, eof, read(t.child, _),
          decode(_, t.pid, _)).flatten
      }

    val rows: RDD[InternalRow] = format match {
      case StreamFormat.Tsv =>
        // each response message becomes one string row; null is the
        // protocol's "no data right now", while an empty body is a real
        // one-empty-line response and keeps its row
        rowFormat[UTF8String](schema => new TsvProtocol.Frame(schema = schema),
          TsvProtocol.writeEof,
          (child, last) => Option(TsvProtocol.readBody(child.stdout, child, lastMessage = last)),
          (resp, pid, chunkNo) => {
            outRows += 1
            Iterator.single(new GenericInternalRow(Array[Any](pid, chunkNo, resp)))
          })

      case StreamFormat.Rdf(declared) =>
        // a response is a typed column set: decoded rows + lineage
        rowFormat[Array[InternalRow]](new RdfProtocol.Frame(_), RdfProtocol.writeEof,
          (child, last) => Option(RdfProtocol.readMessage(child.stdout, child, declared,
            lastMessage = last)),
          (resp, pid, chunkNo) => Iterator.tabulate(resp.length) { j =>
            outRows += 1
            new JoinedRow(resp(j), new GenericInternalRow(Array[Any](pid, chunkNo, j.toLong)))
          })

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
