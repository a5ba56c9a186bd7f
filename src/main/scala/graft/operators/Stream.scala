package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

import graft.plans.{StreamFormat, StreamPlan, StreamStrategy}

/** The `stream()` operator: pipe each partition of a DataFrame through an
  * external program speaking the reference's half-duplex chunk protocol,
  * and materialize the responses as a new DataFrame.
  *
  * Spark-first re-expression of the reference plugin
  * (`src/LogicalStream.cpp`, `src/PhysicalStream.cpp`) as a first-class
  * Catalyst operator: this API builds a [[graft.plans.StreamPlan]]
  * logical node, planned by [[graft.plans.StreamStrategy]] into
  * [[graft.plans.StreamExec]] — a narrow physical operator (one child
  * process per task, partition-local, no shuffle; reference declares
  * "undefined" output distribution, `src/PhysicalStream.cpp:129-159`)
  * whose optional side input carries `BroadcastDistribution` and rides
  * the planner's `BroadcastExchangeExec`. The output schema is declared
  * by the caller, mirroring the mandatory `types:`/`names:` keywords
  * (`src/StreamSettings.h:62-324`), so analysis stays schema-sound.
  *
  * Lineage columns follow §1.2 of the survey: TSV output is
  * `[instance_id, chunk_no, response]`; Arrow output is the declared
  * attributes plus `[instance_id, chunk_no, value_no]`. `instance_id` is
  * the Spark partition id.
  *
  * The optional side input replays the reference's ARRAY2: its rows are
  * broadcast and written to every child *before* the partition's own data
  * (`src/PhysicalStream.cpp:74-100` order), which is how clients receive
  * shipped functions/models (patterns P6, P8, P9).
  */
object Stream {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Commands must be allowlisted when `spark.graft.stream.allowedCommands`
    * is set (comma-separated), mirroring the reference's
    * `stream_allowed` file gate (`src/LogicalStream.cpp:97-118`).
    */
  private def checkAllowed(spark: SparkSession, cmd: String): Unit = {
    val conf = spark.conf.getOption("spark.graft.stream.allowedCommands")
    conf.foreach { list =>
      val allowed = list.split(',').map(_.trim).toSet
      if (!allowed.contains(cmd))
        throw new IllegalArgumentException(
          s"stream command not allowlisted: $cmd (set spark.graft.stream.allowedCommands)")
    }
  }

  /** Infer the child's output schema by running it on a sample batch —
    * the analog of the R client's `schema(f, input)` helper
    * (`r_pkg/R/exported.R:37-52`): ship `sampleRows` rows through the
    * Arrow protocol and read the declared types off the response frame.
    */
  def inferSchema(df: DataFrame, cmd: String, sampleRows: Int = 32): StructType = {
    val spark = df.sparkSession
    checkAllowed(spark, cmd)
    val sample = df.limit(sampleRows).queryExecution.toRdd.map(_.copy()).collect()
    val child = new ChildProcess(cmd, None)
    val allocator = ArrowProtocol.rootAllocator.newChildAllocator("inferSchema", 0, Long.MaxValue)
    try {
      val payload = child.exchange(
        ArrowProtocol.writeBatchInternal(child.stdin, allocator, df.schema, sample))(
        ArrowProtocol.readFrame(child.stdout, child, lastMessage = false))
        .getOrElse(sys.error("child returned no data for schema inference"))
      val reader = ArrowProtocol.loadBatch(payload, allocator)
      try StructType(reader.getVectorSchemaRoot.getFieldVectors.asScala.toSeq.map { v =>
        StructField(v.getName, ArrowProtocol.sparkType(v).getOrElse(
          throw new IllegalArgumentException(
            s"unsupported child column type ${v.getClass.getSimpleName}")))
      })
      finally reader.close()
    } finally {
      child.terminate()
      allocator.close()
    }
  }

  /** SQL-workflow bridge: pipe a registered view/table by name. */
  def tsvSql(spark: SparkSession, view: String, cmd: String,
             chunkSize: Int = 10000): DataFrame =
    tsv(spark.table(view), cmd, chunkSize)

  val tsvOutputSchema: StructType = StructType(Seq(
    StructField("instance_id", LongType, nullable = false),
    StructField("chunk_no", LongType, nullable = false),
    StructField("response", StringType, nullable = false)))

  /** Build the stream DataFrame as a first-class Catalyst plan:
    * [[graft.plans.StreamPlan]] → (via [[graft.plans.StreamStrategy]])
    * [[graft.plans.StreamExec]]. The side input becomes the plan's
    * second child with `BroadcastDistribution`, so it rides a planner-
    * managed `BroadcastExchangeExec` instead of an eager driver
    * `collect()` here at construction time.
    */
  private def planned(df: DataFrame, side: Option[DataFrame], cmd: String,
                      format: StreamFormat, chunkSize: Int,
                      outSchema: StructType, sideLocal: Boolean,
                      reuseChildren: Boolean): DataFrame = {
    val spark = df.sparkSession
    // speculative execution runs DUPLICATE children for slow tasks: for
    // a side-effecting command both copies execute (only one's output is
    // kept). The reference has no analog (its host never re-runs an
    // instance's chunk); surface the hazard instead of silently racing.
    if (spark.sparkContext.getConf.getBoolean("spark.speculation", defaultValue = false))
      log.warn(s"spark.speculation is enabled: slow stream() tasks fork duplicate " +
        s"child processes for '$cmd'; disable speculation for side-effecting commands")
    StreamStrategy.ensureRegistered(spark)
    val attrs = outSchema.fields.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)()).toIndexedSeq
    PlanBridge.ofRows(spark, StreamPlan(
      df.queryExecution.analyzed, side.map(_.queryExecution.analyzed),
      cmd, format, chunkSize, attrs, sideLocal, reuseChildren))
  }

  /** TSV-format stream: rows out as TSV, each response message becomes one
    * output row (`response` holds the whole body, header stripped).
    *
    * `sideLocal = false` (default) broadcasts the whole side table to
    * every child — the reference examples' replicated `_sg(x, 0)`
    * ARRAY2. `sideLocal = true` is the reference's NON-replicated
    * ARRAY2 semantics (`src/PhysicalStream.cpp:74-100`): side partition
    * i is delivered only to input partition i's child, so partition-
    * aligned side data (per-shard models, per-bucket lookups) never
    * pays a broadcast. The caller aligns the two partitionings — the
    * analog of the reference's instance-aligned `_sg(x, 1)`; unequal
    * partition counts fail fast at execution.
    */
  def tsv(df: DataFrame, cmd: String, chunkSize: Int = 10000,
          side: Option[DataFrame] = None, sideLocal: Boolean = false,
          reuseChildren: Boolean = false): DataFrame = {
    checkAllowed(df.sparkSession, cmd)
    planned(df, side, cmd, StreamFormat.Tsv, chunkSize, tsvOutputSchema,
      sideLocal, reuseChildren)
  }

  def arrowOutputSchema(declared: StructType): StructType =
    StructType(declared.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("instance_id", LongType, nullable = false),
      StructField("chunk_no", LongType, nullable = false),
      StructField("value_no", LongType, nullable = false)))

  /** Arrow-format stream: columnar batches both directions, declared
    * output schema (the reference's mandatory `types:`/`names:`).
    * `sideLocal` follows the same contract as [[tsv]]: partition-
    * aligned side data delivered per child with no broadcast.
    */
  def arrow(df: DataFrame, cmd: String, declared: StructType,
            chunkSize: Int = 10000, side: Option[DataFrame] = None,
            sideLocal: Boolean = false,
            reuseChildren: Boolean = false): DataFrame = {
    checkAllowed(df.sparkSession, cmd)
    declared.fields.foreach(f => ArrowProtocol.arrowField(f.name, f.dataType))
    planned(df, side, cmd, StreamFormat.Arrow(declared), chunkSize,
      arrowOutputSchema(declared), sideLocal, reuseChildren)
  }

  /** R-data-frame-format stream (`format=df`, reference O14/O15): each
    * chunk crosses the pipe as a valid R `serialize(..., xdr=FALSE,
    * version=2)` named list, so an UNMODIFIED reference R client —
    * `R --slave -e 'library(scidbstrm); map(f)'`
    * (`r_pkg/R/exported.R:84-107`) — runs as the child. Types are the
    * R data-frame triple int32/double/string; int64 columns must be
    * cast first (the reference's `types:` keyword has the same rule).
    * Output and `sideLocal` contracts match [[arrow]].
    */
  def df(input: DataFrame, cmd: String, declared: StructType,
         chunkSize: Int = 10000, side: Option[DataFrame] = None,
         sideLocal: Boolean = false,
         reuseChildren: Boolean = false): DataFrame = {
    checkAllowed(input.sparkSession, cmd)
    RdfProtocol.checkSchema(input.schema, "input")
    RdfProtocol.checkDeclared(declared)
    side.foreach(sd => RdfProtocol.checkSchema(sd.schema, "side input"))
    planned(input, side, cmd, StreamFormat.Rdf(declared), chunkSize,
      arrowOutputSchema(declared), sideLocal, reuseChildren)
  }
}
