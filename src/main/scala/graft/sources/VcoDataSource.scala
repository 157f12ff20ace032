package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JsonToStructs, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, LessThan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

import graft.model.Schemas

/** DataSource V2 connector for the JSON-RPC fleet (SURVEY §4's "API
  * source with pushdown" — the reference's thread-per-VCO pool
  * becomes PARTITION-per-VCO, so 1000 executors fan the fleet out
  * natively and a failed VCO retries as a task, not a thread).
  *
  * - `spark.read.format("graft-vco").option("vcos", "a,b,c")
  *   .option("transport", classOf[...].getName).load()`
  * - one `InputPartition` per VCO; the executor-side reader
  *   instantiates the Transport (reflection: transports own sockets,
  *   which never serialize) and fetches that VCO's edges — the one
  *   `getEnterpriseEdges` fetch of the code base, licenses fallback
  *   included;
  * - `SupportsPushDownRequiredColumns`: Catalyst's column pruning is
  *   translated into the API's `with:[…]` expansion list — columns
  *   nobody selects are never serialized by the server
  *   (`powerbi_main_fun.py:181-185` done by the optimizer instead of
  *   by hand).
  */
class VcoDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-vco"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.edgeDoc
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VcoTable(schema, properties.asScala.toMap)
}

/** Executor-instantiable transport: a zero-arg-constructible
  * [[VcoSource.Transport]]. Production wires an HTTP client; tests a
  * scripted fake.
  */
trait TransportFactory {
  def create(): VcoSource.Transport
}

private class VcoTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "graft_vco_edges"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VcoScanBuilder(schema, props ++ options.asScala)
}

private class VcoScanBuilder(fullSchema: StructType, props: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed: Seq[VcoAgg] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands us the pruned shape; remember it for the with-list.
    required = requiredSchema

  /** COUNT(*) / MIN(id) / MAX(id) pushdown — the DSv2 rendition of
    * the reference's `with:[edgeCount]` hint
    * (`Functions/vco_calls.py:140-159`): a fleet-size or id-range
    * query never ships edge payloads. Partial pushdown only
    * (`supportCompletePushDown` = false): each VCO partition
    * returns ONE pre-aggregated row and Spark's final aggregate merges
    * them, so a retried/failed partition can never double-count.
    * Catalyst attempts aggregate pushdown only when every filter was
    * fully consumed — ours are all residual — so a filtered count
    * automatically stays on the row-scan path (correctness is the
    * planner's invariant, not this source's).
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def pushAggregation(agg: Aggregation): Boolean = {
    // an empty fleet must stay on the row scan: zero count-partitions
    // would make Spark's final Sum-of-partials NULL where COUNT(*)
    // over zero rows is 0
    val haveVcos = props.getOrElse("vcos", "")
      .split(",").exists(_.nonEmpty)
    // MIN/MAX push only for the top-level long `id` — the one field
    // every edge doc carries and the server could serve from an
    // index; anything else stays on the row scan
    def idRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("id")
      case _ => false
    }
    val translated: Seq[Option[VcoAgg]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar            => Some(VcoCountAgg)
        case m: Min if idRef(m.column) => Some(VcoMinIdAgg)
        case m: Max if idRef(m.column) => Some(VcoMaxIdAgg)
        case _                       => None
      }
    val ok = haveVcos && agg.groupByExpressions.isEmpty &&
      translated.nonEmpty && translated.forall(_.isDefined)
    if (ok) aggPushed = translated.flatten
    ok
  }

  /** Predicate pushdown → call params (`powerbi_main_fun.py:465-481`:
    * the reference passes `enterpriseId` and an `interval` object in
    * the request body, fetching only the matching slice). We translate
    * the supported shapes into params but return EVERY filter as
    * residual — the server-side param is a data-reduction hint, and
    * Spark re-applying the predicate keeps exactness independent of
    * server behavior (the parquet-source convention for best-effort
    * pushdown).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(VcoScan.pushable)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** A pushed aggregation reads through the same scan, its parse
    * schema pruned to `id` (an empty with-list: no expansions — the
    * cheapest request the API serves).
    */
  override def build(): Scan =
    if (aggPushed.isEmpty) new VcoScan(required, props, pushed)
    else new VcoScan(StructType(Seq(fullSchema("id"))), props, pushed,
      aggPushed)
}

/** The aggregate shapes this source answers with one partial row per
  * VCO: fleet count, and min/max of the top-level edge `id`.
  */
private[graft] sealed trait VcoAgg
private case object VcoCountAgg extends VcoAgg
private case object VcoMinIdAgg extends VcoAgg
private case object VcoMaxIdAgg extends VcoAgg

private[graft] object VcoScan {
  /** Top-level document fields that map to server-side `with`
    * expansions (`powerbi_main_fun.py:181-185`); scalar fields always
    * come back.
    */
  val Expansions = Seq("site", "configuration", "recentLinks", "vnfs",
    "licenses", "cloudServices")

  /** The filter shapes the API request can express: enterprise
    * equality and a time interval on `lastContact`
    * (`powerbi_main_fun.py:465-481` uses exactly these two request
    * params for the events slice).
    *
    * Only the STRICT comparisons are pushed: a server whose interval
    * bound is inclusive returns `>= X` ⊇ `> X`, an exclusive one
    * returns exactly `> X` — either way a superset of the strict
    * predicate, which the Spark-side residual then trims. GTE/LTE
    * would under-fetch on an exclusive-bound server (the boundary row
    * never arrives and no client-side filter can resurrect it), so
    * they stay residual-only.
    */
  /** Only values that [[json]] can render as VALID JSON are
    * pushable — a Timestamp/Date comparison value would fall through
    * String.valueOf into an unquoted token the server rejects, so such
    * predicates stay residual-only (correct, just unpushed).
    */
  private def jsonRenderable(v: Any): Boolean = v match {
    // NaN/Infinity would render via String.valueOf into unquoted
    // tokens that are invalid JSON — such predicates stay
    // residual-only (Spark re-applies them after the scan).
    case d: java.lang.Double => !d.isNaN && !d.isInfinite
    case f: java.lang.Float  => !f.isNaN && !f.isInfinite
    case _: String | _: java.lang.Number | _: java.lang.Boolean => true
    case _ => false
  }

  def pushable(f: Filter): Boolean = f match {
    case EqualTo("enterpriseId", v) => jsonRenderable(v)
    case GreaterThan("lastContact", v) => jsonRenderable(v)
    case LessThan("lastContact", v) => jsonRenderable(v)
    case _ => false
  }

  /** A value as JSON — the repo's one escaper: request params (the
    * VCO name, the with-list, the pushed filter values), TxLog log
    * lines, `graft.Verify`'s oracle_sql.json and `graft.Bench`'s JSON
    * lines alike. Strings are quoted, with quotes, backslashes and
    * control characters escaped.
    */
  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x" // control chars: valid JSON
      case c            => c.toString
    } + "\""
    case other => String.valueOf(other)
  }

  /** Render the pushed filters as request-param JSON fragments. */
  def filterParams(pushed: Seq[Filter]): Seq[String] = {
    val ent = pushed.collectFirst { case EqualTo("enterpriseId", v) =>
      s""""enterpriseId":${json(v)}""" }
    val start = pushed.collectFirst {
      case GreaterThan("lastContact", v) => s""""start":${json(v)}""" }
    val end = pushed.collectFirst {
      case LessThan("lastContact", v) => s""""end":${json(v)}""" }
    val interval = (start.toSeq ++ end.toSeq) match {
      case Nil => None
      case parts => Some(s""""interval":{${parts.mkString(",")}}""")
    }
    ent.toSeq ++ interval.toSeq
  }
}

/** The one scan: rows parsed with the (pruned) `schema`, or — with
  * `aggs` pushed — one partial row per VCO folded over exactly those
  * rows, whose columns are POSITIONAL against the pushed aggregation's
  * expression order. Spark merges the partials above this scan (sum of
  * counts, min of mins, max of maxes).
  */
private class VcoScan(schema: StructType, props: Map[String, String],
    pushed: Array[Filter] = Array.empty, aggs: Seq[VcoAgg] = Seq.empty)
    extends Scan with Batch {
  override def readSchema(): StructType =
    if (aggs.isEmpty) schema
    else StructType(aggs.zipWithIndex.map { case (a, i) =>
      StructField(a match {
        case VcoCountAgg  => s"count_$i"
        case VcoMinIdAgg  => s"min_id_$i"
        case VcoMaxIdAgg  => s"max_id_$i"
      }, LongType, nullable = a != VcoCountAgg)
    })
  override def toBatch: Batch = this
  override def description(): String =
    if (aggs.isEmpty) super.description()
    else "graft_vco_agg_pushdown[" + aggs.mkString(",") + "]"

  /** The with-list the server sees: only the expansions the query
    * actually references.
    */
  def withList: Seq[String] =
    VcoScan.Expansions.filter(schema.fieldNames.contains)

  override def planInputPartitions(): Array[InputPartition] =
    props.getOrElse("vcos", "")
      .split(",").filter(_.nonEmpty)
      .map(v => VcoPartition(v, withList,
        VcoScan.filterParams(pushed.toSeq)): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new VcoReaderFactory(schema,
      props.getOrElse("transport",
        throw new IllegalArgumentException("option 'transport' is required")),
      aggs)
}

private case class VcoPartition(vco: String, withList: Seq[String],
    filterParams: Seq[String] = Seq.empty) extends InputPartition

private class VcoReaderFactory(schema: StructType, transportClass: String,
    aggs: Seq[VcoAgg]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new VcoPartitionReader(schema, transportClass,
      partition.asInstanceOf[VcoPartition], aggs)
}

private class VcoPartitionReader(schema: StructType, transportClass: String,
    partition: VcoPartition, aggs: Seq[VcoAgg])
    extends PartitionReader[InternalRow] {

  /** The one `getEnterpriseEdges` fetch (`VCOClient.py:75-98`), with
    * the license-less degraded-projection fallback
    * (`powerbi_main_fun.py:187-194`): a VCO that rejects the licenses
    * expansion degrades instead of failing the whole scan. The
    * transport is built here, executor-side: transports hold
    * sockets/auth.
    */
  private def fetch(): Seq[String] = {
    val transport = Class.forName(transportClass)
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[TransportFactory].create()
    def call(withList: Seq[String]) = VcoSource.callWithRetry(transport,
      "enterprise/getEnterpriseEdges",
      (s""""vco":${VcoScan.json(partition.vco)}""" +:
        s""""with":[${withList.map(VcoScan.json).mkString(",")}]""" +:
        partition.filterParams).mkString("{", ",", "}"))
    call(partition.withList).left.flatMap { err =>
      if (partition.withList.contains("licenses"))
        call(partition.withList.filterNot(_ == "licenses"))
      else Left(err)
    }.fold(err => throw new RuntimeException(
      s"VCO ${partition.vco} scan failed: $err"), identity)
  }

  /** One VCO's partials over the parsed rows (parse schema: `id`
    * alone): the row count, and min/max over the non-null ids. No id ⇒
    * NULL partial; Spark's merging min/max ignores nulls.
    */
  private def partials(rows: Iterator[InternalRow]): InternalRow = {
    var n = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    rows.foreach { r =>
      n += 1
      if (!r.isNullAt(0)) {
        lo = math.min(lo, r.getLong(0))
        hi = math.max(hi, r.getLong(0))
      }
    }
    val anyId = lo <= hi
    InternalRow.fromSeq(aggs.map {
      case VcoCountAgg => n
      case VcoMinIdAgg => if (anyId) lo else null
      case VcoMaxIdAgg => if (anyId) hi else null
    })
  }

  private lazy val rows: Iterator[InternalRow] = {
    // JSON → InternalRow with the PRUNED schema (absent = null)
    val parser = JsonToStructs(schema, Map.empty[String, String],
      Literal.create(null, StringType),
      Some(java.util.TimeZone.getDefault.getID))
    // a blank line parses to null, where every other line that is no
    // JSON object parses to a row of typed nulls: read it as one too,
    // so the row scan and the pushed partials count it alike
    val parsed = fetch().iterator.map { line =>
      Option(parser.nullSafeEval(UTF8String.fromString(line))
          .asInstanceOf[InternalRow])
        .getOrElse(new GenericInternalRow(schema.length))
    }
    if (aggs.isEmpty) parsed else Iterator.single(partials(parsed))
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
