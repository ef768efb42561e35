package graft.sources

import graft.types.TypeMapping
import org.apache.arrow.vector.ipc.{ArrowStreamWriter, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.spark.sql.{DataFrame, GraftDatasetShim, SparkSession}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels
import scala.jdk.CollectionConverters._

/** Arrow IPC stream export/import — the wire format of the reference's
  * result streams (`/root/reference/src/duckdb/duckdb_statement.cpp:2248-2331`,
  * batches over gRPC) and its bulk-ingest input. With no Flight/gRPC jars in
  * this environment the transport stops at IPC stream bytes; a Flight SQL
  * endpoint would wrap these calls 1:1.
  *
  * [[graft.types.TypeMapping]] is the schema contract in both directions
  * (GeoArrow tags, UTC timestamps, decimals, ingest widenings); Spark's own
  * `ArrowConverters` moves the values. Export encodes record batches on the
  * executors and streams them partition by partition, so the driver holds
  * at most one partition's encoded batches. Ingest decodes the uploaded
  * batches into a DataFrame without building driver rows. Every type
  * `TypeMapping` maps, at any nesting depth, travels both ways.
  */
object ArrowIO {

  /** Export a DataFrame as one Arrow IPC stream (schema + record batches). */
  def toArrowStream(df: DataFrame, batchSize: Int = 4096): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeArrowStream(df, out, batchSize): Unit
    out.toByteArray
  }

  /** Stream a DataFrame as an Arrow IPC stream directly onto `out`, in
    * batches of at most `batchSize` rows. Returns the number of rows
    * streamed (instrumentation's rows_fetched).
    */
  def writeArrowStream(df: DataFrame, out: java.io.OutputStream, batchSize: Int = 4096): Long =
    exporter(df, batchSize)(out)

  /** [[writeArrowStream]] in two steps: the Arrow schema is built now, so a
    * result type without an Arrow mapping fails here with an
    * IllegalArgumentException, before any byte is written; the returned
    * function streams the result.
    */
  def exporter(df: DataFrame, batchSize: Int = 4096): java.io.OutputStream => Long = {
    val arrowSchema = TypeMapping.toArrowSchema(df.schema, geometryOutputs(df))
    out => {
      val channel = new WriteChannel(Channels.newChannel(out))
      MessageSerializer.serialize(channel, arrowSchema)
      val rows = GraftDatasetShim.withArrowBatches(df, batchSize) {
        _.foldLeft(0L) { case (n, (count, batch)) => channel.write(batch); n + count }
      }
      ArrowStreamWriter.writeEndOfStream(channel, IpcOption.DEFAULT)
      rows
    }
  }

  /** Output columns whose defining expression produces WKB geometry — a
    * StaticInvoke into the [[graft.plans.Wkb]] kernel returning BINARY.
    * Export auto-tags these with `ARROW:extension:name = geoarrow.wkb`, the
    * reference's GeoArrow contract for GEOMETRY results
    * (`gizmosql_library.cpp:820-827`, `test_geoarrow.cpp:138-245`): a
    * GeoArrow-aware client reads `SELECT st_point(...)` as geometry, not
    * opaque bytes. Pre-tagged columns (ingested GeoArrow) keep their own
    * metadata; detection failures degrade to untagged binary, never error.
    */
  private def geometryOutputs(df: DataFrame): Set[String] = try {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val plan = df.queryExecution.analyzed
    def isGeom(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = e match {
      case si: StaticInvoke =>
        si.dataType == org.apache.spark.sql.types.BinaryType &&
          si.staticObject == graft.plans.Wkb.getClass
      case a: Alias => isGeom(a.child)
      case _ => false
    }
    val geomIds = plan.collect { case p => p }.flatMap(_.expressions).flatMap(_.collect {
      case a: Alias if isGeom(a.child) => a.exprId
    }).toSet
    plan.output.filter(at => geomIds.contains(at.exprId)).map(_.name).toSet
  } catch { case scala.util.control.NonFatal(_) => Set.empty }

  /** Import an Arrow IPC stream into a DataFrame (the ingest direction).
    * The Spark schema comes from TypeMapping. Before any buffer is read,
    * each incoming field must have the layout Spark decodes for its mapped
    * type: a widened `uint8` would otherwise be read as 2-byte values.
    * A mismatch is an IllegalArgumentException; a truncated or non-Arrow
    * body is an IOException.
    */
  def fromArrowStream(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    // Arrow allocates a message's stated length before reading it: the first
    // bytes of a text body would ask for up to 2 GiB
    val head = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val schemaLength =
      if (bytes.length >= 8 && head.getInt(0) == -1) head.getInt(4)
      else if (bytes.length >= 4) head.getInt(0) else 0
    if (schemaLength < 0 || schemaLength > bytes.length)
      throw new java.io.IOException("body is not an Arrow IPC stream")
    val in = Channels.newChannel(new ByteArrayInputStream(bytes))
    val arrowSchema = MessageSerializer.deserializeSchema(new ReadChannel(in))
    val schema = TypeMapping.fromArrowSchema(arrowSchema)
    arrowSchema.getFields.asScala.zip(schema.fields).foreach { case (field, sf) =>
      require(sameLayout(field, TypeMapping.toArrowField(sf.name, sf.dataType, sf.nullable)),
        s"Arrow column ${field.getName} (${field.getType}) cannot be ingested as " +
          sf.dataType.sql)
    }
    GraftDatasetShim.fromArrowBatches(spark, in, schema)
  }

  /** Same vector layout: equal types (any time zone on a timestamp, either
    * key order on a map), no dictionary encoding, same children.
    */
  private def sameLayout(got: Field, want: Field): Boolean =
    got.getDictionary == null && ((got.getType, want.getType) match {
      case (g: ArrowType.Timestamp, w: ArrowType.Timestamp) =>
        g.getUnit == w.getUnit && (g.getTimezone == null) == (w.getTimezone == null)
      case (_: ArrowType.Map, _: ArrowType.Map) => true
      case (g, w) => g == w
    }) && got.getChildren.size == want.getChildren.size &&
      got.getChildren.asScala.zip(want.getChildren.asScala).forall { case (g, w) => sameLayout(g, w) }
}
