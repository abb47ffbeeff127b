package graft.sources

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.dv3f.{Reshape, StagingTable}

/** DataSource V2 reader for the DV3F API shape (SURVEY.md §2.1 S1,
  * phase 2): `spark.read.format("dv3f").option("path", dir).load()`.
  *
  * The reference's 119-way Dagster fan-out over (scope, code) pairs
  * (scripts/etl.py:13-22) becomes Spark task parallelism sized to the
  * cores: the planned pairs are packed, in order, into at most
  * `defaultParallelism` InputPartitions, and the payload fetch+flatten
  * runs ON EXECUTORS, not the driver. Payloads are
  * `{count, next, previous, results:[...]}` JSON files named
  * `<scope>_<code>.json` under `path` — the fetch boundary is the
  * pluggable [[PageFetcher]] (default: file-backed), so a real
  * deployment swaps in an HTTPS fetcher via `option("fetcher", …)`
  * (reference GET: scripts/extract_load.py:78) with every other moving
  * part (planning, partitioning, pruning, row emission) unchanged.
  *
  * The table has one of two shapes, chosen by the caller's schema:
  *  - no schema: the LONG (melted) shape [[schema]] — (scope, code,
  *    annee, lib, cod_full, valeur), one row per metric cell, the shape
  *    for ad-hoc reads, limit and aggregate pushdown;
  *  - a [[stagingSchema]]: the STAGING shape — (scope, code, annee, lib,
  *    cod) plus one double column per metric. The reference's melt →
  *    split → pivot (scripts/extract_load.py:143-169) only ever groups
  *    cells of one (scope, code) page chain, and one reader drains that
  *    chain whole, so the reader folds the chain itself
  *    ([[Dv3fPivotReader]]) and [[staged]] needs no exchange.
  * Any other schema is refused.
  */
object Dv3fSource {
  val schema: StructType = StructType(Seq(
    StructField("scope", StringType, nullable = false),
    StructField("code", StringType, nullable = false),
    StructField("annee", StringType),
    StructField("lib", StringType),
    StructField("cod_full", StringType),
    StructField("valeur", DoubleType)))

  private[sources] val idFields =
    Set("annee", "dep", "reg", "libdep", "libreg")

  /** The leading columns of the staging shape; the metric columns follow. */
  private[sources] val stagingKeys = Seq("scope", "code", "annee", "lib", "cod")

  /** The staging-shaped read schema for `table`: the [[stagingKeys]]
    * then the table's metrics, all double (the casts to the declared
    * metric types happen in [[staged]]).
    */
  def stagingSchema(table: StagingTable): StructType = StructType(
    stagingKeys.map(n => StructField(n, StringType, nullable = n != "scope" && n != "code")) ++
      table.metricNames.map(StructField(_, DoubleType)))

  /** Whether a caller's schema is the staging shape: the
    * [[stagingKeys]] as strings, then distinctly named double columns.
    * Throws for a schema that is neither this nor the long [[schema]].
    */
  private[sources] def isStaging(s: StructType): Boolean = {
    val cols = s.map(f => (f.name, f.dataType))
    val (keys, metrics) = cols.splitAt(stagingKeys.size)
    if (cols == schema.map(f => (f.name, f.dataType))) false
    else if (keys == stagingKeys.map((_, StringType)) &&
        metrics.forall(_._2 == DoubleType) && s.fieldNames.distinct.length == s.length) true
    else throw new IllegalArgumentException(
      s"dv3f source: unsupported schema ${s.simpleString}; give none for the long " +
        s"shape ${schema.simpleString}, or ${stagingKeys.mkString(", ")} as strings " +
        "followed by double metric columns")
  }

  /** Staging rows for one table, read in the staging shape: the scope
    * filter (pushed into the scan, so only this scope's payloads are
    * fetched), the rename of the generic (code, lib) columns to the
    * scope's names, then the declared metric types and the sha2 uid.
    * All three steps are narrow: the plan has no exchange.
    */
  def staged(reader: DataFrameReader, table: StagingTable): DataFrame = {
    val renamed = reader.schema(stagingSchema(table)).load()
      .filter(col("scope") === table.scope)
      .withColumnsRenamed(Map("code" -> table.codeCol, "lib" -> table.idVars(2)))
    renamed.select(table.schema.fields.toSeq.map {
      case f if f.name == "uid" => Reshape.uidColumn(table).as("uid")
      case f => col(f.name).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The `results` arrays of one (scope, code) page chain, fetched
    * lazily: a page is fetched only when the previous one is drained.
    * The payload's `next` locator (extract_load.py:81-91) is FOLLOWED; a
    * visited set guards against locator cycles, seeded with the
    * FETCHER's own first-page locator so a `next` pointing back at page
    * 1 terminates for any fetcher (file name or URL alike). An empty or
    * missing `results` fails the read (extract_load.py:92-94).
    */
  private[sources] def results(fetcher: PageFetcher, scope: String,
      code: String): Iterator[JsonNode] = {
    val visited = scala.collection.mutable.Set[String](fetcher.firstLocator(scope, code))
    Iterator.iterate(Option(fetcher.firstPage(scope, code))) {
      case Some(root) =>
        Option(root.get("next")).filterNot(_.isNull).map(_.asText)
          .filter(_.nonEmpty).filter(visited.add)
          .map(fetcher.nextPage)
      case None => None
    }.takeWhile(_.isDefined).map { page =>
      val results = page.get.get("results")
      if (results == null || !results.isArray || results.size() == 0)
        throw new IllegalStateException(
          s"empty or malformed payload for ($scope, $code)")
      results
    }
  }

  /** A result object's id cells: its annee and its libdep, else libreg. */
  private[sources] def annee(obj: JsonNode): String =
    Option(obj.get("annee")).filterNot(_.isNull).map(_.asText).orNull
  private[sources] def lib(obj: JsonNode): String =
    Seq("libdep", "libreg").iterator
      .map(obj.get).find(n => n != null && !n.isNull).map(_.asText).orNull

  private val codPattern = java.util.regex.Pattern.compile(Reshape.codSplit)

  /** A metric field name split as `Reshape.splitCod` splits `cod_full`:
    * on its last `_` into (metric, code), every "cod" stripped from the
    * code; ("", "") when the name has no `_`.
    */
  private[sources] def splitCod(field: String): (String, String) = {
    val m = codPattern.matcher(field)
    if (m.find()) (m.group(1), m.group(2).replace("cod", "")) else ("", "")
  }
}

/** The network boundary of the source, factored out of the reader: ONE
  * page fetch per call, addressed either by the partition's (scope,
  * code) — the first page — or by the previous page's `next` locator.
  * The reference GETs `https://…/dvf_opendata/<scope>?code=…&page=…`
  * (scripts/extract_load.py:78); the sandbox has no network, so the
  * default implementation reads the payload files instead — swapping in
  * a real HTTPS deployment is `option("fetcher", classOf[MyHttpFetcher]
  * .getName)` with NO other change to planning, partitioning, pruning,
  * pagination or row emission. Implementations must be Serializable
  * (constructed driver-side, shipped to executors) and take the
  * source's `path` option as their single constructor argument (base
  * dir for files, base URL for HTTP).
  */
trait PageFetcher extends Serializable {
  /** First page of one (scope, code) partition. */
  def firstPage(scope: String, code: String): JsonNode
  /** The page behind a previous page's `next` locator. */
  def nextPage(locator: String): JsonNode
  /** The locator under which [[firstPage]] is addressable — seeds the
    * reader's visited set so a `next` pointing back at page 1 terminates
    * instead of re-emitting page 1's rows. Must match the locator form
    * this fetcher's payloads use (file name, URL, …).
    */
  def firstLocator(scope: String, code: String): String
}

/** Fetch failure with HTTP-style status classification. The reference
  * raises on any non-200 (scripts/extract_load.py:80-94); here the
  * status decides RETRYABILITY: 5xx/429/408 are transient server/rate
  * conditions worth retrying, any other non-200 (404 unknown code, 403
  * bad key, …) is permanent — retrying cannot fix it, so it fails the
  * partition immediately. HTTP fetcher implementations should throw
  * this; IOExceptions (connection reset, timeout) count as transient.
  */
class FetchException(val status: Int, msg: String, cause: Throwable = null)
    extends RuntimeException(s"HTTP $status: $msg", cause) {
  def transient: Boolean =
    status >= 500 || status == 429 || status == 408
}

/** Retry/backoff decorator over any [[PageFetcher]]: transient failures
  * ([[FetchException]] with a retryable status, or IOException) are
  * retried up to `maxRetries` times with exponential backoff; permanent
  * failures propagate immediately. Failures surface on the EXECUTOR, so
  * a partition that exhausts its retries fails alone — the driver-level
  * fan-out (IngestJob D4) or pushed-down partition pruning keeps other
  * (scope, code) branches unaffected, matching the reference's
  * per-branch error isolation with production resilience added.
  */
class RetryingFetcher(inner: PageFetcher, maxRetries: Int = 3,
    baseBackoffMs: Long = 100) extends PageFetcher {

  private def isTransient(e: Throwable): Boolean = e match {
    case fe: FetchException => fe.transient
    // a missing file is the file-fetcher analogue of HTTP 404:
    // retrying cannot make it appear
    case _: java.io.FileNotFoundException => false
    case _: java.io.IOException => true
    case _ => false
  }

  private def attempt[A](f: => A): A = {
    var tries = 0
    while (true) {
      try return f
      catch {
        case e: Throwable if tries < maxRetries && isTransient(e) =>
          tries += 1
          // exponential, deterministic: base, 2x, 4x, ...
          if (baseBackoffMs > 0) Thread.sleep(baseBackoffMs << (tries - 1))
      }
    }
    sys.error("unreachable")
  }

  override def firstPage(scope: String, code: String): JsonNode =
    attempt(inner.firstPage(scope, code))
  override def nextPage(locator: String): JsonNode =
    attempt(inner.nextPage(locator))
  override def firstLocator(scope: String, code: String): String =
    inner.firstLocator(scope, code)
}

/** Default fetcher: payloads as `<path>/<scope>_<code>.json`, `next`
  * locators as paths relative to `path` (continuation pages
  * conventionally under a subdirectory, e.g. `pages/…`, so scan
  * planning — which lists only top-level `*.json` — never turns them
  * into their own partitions).
  */
class FilePageFetcher(path: String) extends PageFetcher {
  @transient private lazy val mapper = new ObjectMapper()
  override def firstPage(scope: String, code: String): JsonNode =
    mapper.readTree(new java.io.File(s"$path/${scope}_$code.json"))
  override def nextPage(locator: String): JsonNode =
    mapper.readTree(new java.io.File(path, locator))
  override def firstLocator(scope: String, code: String): String =
    s"${scope}_$code.json"
}

/** The source. A caller's schema (`spark.read.format("dv3f").schema(s)`)
  * picks the table's shape; with none, Spark asks [[inferSchema]] and
  * the table is long.
  */
class Dv3fDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "dv3f"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Dv3fSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    if (Dv3fSource.isStaging(schema)) new Dv3fTable(properties.asScala.toMap, schema)
    else new Dv3fTable(properties.asScala.toMap)
}

class Dv3fTable(props: Map[String, String],
    tableSchema: StructType = Dv3fSource.schema) extends Table with SupportsRead {
  override def name(): String = s"dv3f(${props.getOrElse("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Dv3fScanBuilder(options.asScala.toMap, tableSchema)
}

/** One pushed-down aggregate over the long rows of a partition —
  * the executor-side PARTIAL of a Spark aggregation (Spark plans the
  * final merge over the scan output, so any grouping is safe).
  */
sealed trait Dv3fAgg extends Serializable
case object Dv3fCountStar extends Dv3fAgg
case class Dv3fCount(colName: String) extends Dv3fAgg
case class Dv3fMin(colName: String) extends Dv3fAgg
case class Dv3fMax(colName: String) extends Dv3fAgg

/** Filter pushdown (SupportsPushDownFilters): equality predicates on the
  * PARTITION COLUMNS (scope, code) prune the planned pairs at planning
  * time — a `scope = 'region'` query never fetches departement payloads,
  * and one scope's bad payload cannot fail another scope's job. All
  * filters are also left as residuals for Spark to re-apply (safe
  * double-filtering). Limit and aggregate pushdown apply to the long
  * shape only.
  */
class Dv3fScanBuilder(options: Map[String, String],
    tableSchema: StructType = Dv3fSource.schema) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.{EqualTo, Filter}

  private var scopeEq: Option[String] = None
  private var codeEq: Option[String] = None
  private var limit: Option[Int] = None
  private val pivot = Dv3fSource.isStaging(tableSchema)
  private var required: StructType = tableSchema
  private var pushedAgg: Option[(Seq[String], Seq[Dv3fAgg])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo("scope", v: String) => scopeEq = Some(v)
      case EqualTo("code", v: String) => codeEq = Some(v)
      case _ =>
    }
    filters // all stay as residuals
  }
  override def pushedFilters(): Array[Filter] =
    (scopeEq.map(v => EqualTo("scope", v): Filter) ++
      codeEq.map(v => EqualTo("code", v): Filter)).toArray

  /** Limit pushdown (SupportsPushDownLimit): each (scope, code) reader
    * caps its output at `limit` rows, which — because pages are
    * fetched LAZILY, one `next` follow per drained page — stops the
    * HTTP page chain as soon as the cap is met: a `LIMIT 10` probe
    * against a deep paginated endpoint costs at most one page per
    * (scope, code), not the full drain. Returning false keeps Spark's
    * own global LIMIT as the residual (per-reader caps alone cannot
    * implement a global limit across partitions), so this is a pure
    * fetch-cost optimization with unchanged semantics. Declined for the
    * staging shape: a group's row is only known once its chain is drained.
    */
  override def pushLimit(l: Int): Boolean = {
    if (!pivot) limit = Some(l)
    false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // once an aggregation is pushed the scan's schema IS the
    // aggregation schema (positional contract with Spark's final agg)
    // — column pruning no longer applies
    if (pushedAgg.isEmpty) required = requiredSchema

  /** Aggregate pushdown (SupportsPushDownAggregates): COUNT(*)/
    * COUNT(col)/MIN(valeur)/MAX(valeur) grouped by any source columns
    * run INSIDE the partition reader, against the still-paginating
    * page chain — so for a REST-backed deployment only |groups| rows
    * per scan task ever leave the edge, instead of every flattened
    * metric row crossing into the exchange. Pushdown is PARTIAL
    * (supportCompletePushDown stays false): Spark plans the final
    * merge over the scan output, which makes per-partition
    * pre-aggregation semantically safe for any grouping, including
    * groupings finer or coarser than the (scope, code) partitioning.
    * Anything not translatable (DISTINCT, SUM/AVG, expressions) is
    * declined and Spark falls back to the unaggregated scan, and so is
    * any aggregate over the staging shape.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pivot) return false
    import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    def fieldOf(e: Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0)).filter(Dv3fSource.schema.fieldNames.contains)
      case _ => None
    }
    val groups = agg.groupByExpressions.toSeq.map(fieldOf)
    val aggs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(Dv3fCountStar)
      case c: Count if !c.isDistinct => fieldOf(c.column).map(Dv3fCount)
      // min/max only on the one numeric column — the string id
      // columns never carry analytics and keep the reader simple
      case m: Min => fieldOf(m.column).filter(_ == "valeur").map(Dv3fMin)
      case m: Max => fieldOf(m.column).filter(_ == "valeur").map(Dv3fMax)
      case _ => None
    }
    if (groups.exists(_.isEmpty) || aggs.exists(_.isEmpty)) return false
    val g = groups.flatten
    val a = aggs.flatten
    pushedAgg = Some((g, a))
    required = StructType(
      g.map(n => Dv3fSource.schema(Dv3fSource.schema.fieldIndex(n))) ++
        a.zipWithIndex.map {
          case (Dv3fCountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
          case (Dv3fCount(_), i) => StructField(s"agg_$i", LongType, nullable = false)
          case (Dv3fMin(_), i) => StructField(s"agg_$i", DoubleType)
          case (Dv3fMax(_), i) => StructField(s"agg_$i", DoubleType)
        })
    true
  }

  override def build(): Scan =
    new Dv3fScan(options, scopeEq, codeEq, required, limit, pushedAgg, pivot)
}

class Dv3fScan(options: Map[String, String], scopeEq: Option[String],
    codeEq: Option[String], required: StructType,
    limit: Option[Int] = None,
    pushedAgg: Option[(Seq[String], Seq[Dv3fAgg])] = None,
    pivot: Boolean = false)
    extends Scan with Batch with SupportsRuntimeFiltering {
  private val path = options.getOrElse("path",
    throw new IllegalArgumentException("dv3f source requires option 'path'"))

  // runtime (execution-time) partition pruning state — see filter()
  private var runtimeScopes: Option[Set[String]] = None
  private var runtimeCodes: Option[Set[String]] = None

  /** Runtime filtering (SupportsRuntimeFiltering — the DSv2 analog of
    * dynamic partition pruning): when this scan sits under an equi-join
    * on scope/code whose other side broadcasts, Spark evaluates the
    * build side FIRST and hands the observed key set here as IN/=
    * filters BEFORE input partitions are planned — so a join against a
    * 10-row dimension of codes fetches 10 payloads, not all 119, with
    * zero query rewriting. Pruning is best-effort and conservative
    * (unrecognized predicates are ignored; Spark always re-applies the
    * join itself), exactly like the planning-time scope/code equality
    * pushdown this composes with.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only attributes still present in the (pruned/aggregated) scan
    // output — the planner resolves these against readSchema, so a
    // pruned-away partition column must not be declared filterable
    Array("scope", "code").filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    def strs(vs: Array[Any]): Set[String] = vs.collect { case s: String => s }.toSet
    filters.foreach {
      case In("scope", vs) => runtimeScopes = Some(strs(vs))
      case EqualTo("scope", v: String) => runtimeScopes = Some(Set(v))
      case In("code", vs) => runtimeCodes = Some(strs(vs))
      case EqualTo("code", v: String) => runtimeCodes = Some(Set(v))
      case _ => // best-effort: ignore what we can't prune on
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"dv3f path=$path pushed=[${(scopeEq.map("scope=" + _) ++
      codeEq.map("code=" + _) ++ limit.map("limit=" + _) ++
      pushedAgg.map { case (g, a) =>
        s"agg=[${a.mkString(", ")}] groupBy=[${g.mkString(", ")}]"
      }).mkString(", ")}] " +
      s"columns=[${required.fieldNames.mkString(", ")}] " +
      s"runtimeFilters=[scope, code]"

  /** Planning: the distinct (scope, code) pairs of the explicit `scopes`
    * option ("departement:85,region:11") or of the payload files found
    * under `path`, sorted, minus the pairs excluded by pushed-down scope/code
    * equality filters and runtime filters. The remaining pairs are
    * packed in order into at most `defaultParallelism` partitions of
    * near-equal pair counts: a payload is a few hundred cells, so one
    * task per payload would spend most of its time on per-task cost.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val scopes: Seq[(String, String)] = options.get("scopes") match {
      case Some(s) => s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { sc =>
        val Array(scope, code) = sc.split(":", 2)
        (scope, code)
      }
      case None =>
        val files = Option(new java.io.File(path).listFiles()).getOrElse(Array())
        files.toSeq.map(_.getName).filter(_.endsWith(".json")).sorted.flatMap { f =>
          // tolerate stray files: a payload is <scope>_<code>.json, so a
          // name with no '_' (or an empty scope) is skipped, not a
          // planning-time crash for the whole scan
          val base = f.stripSuffix(".json")
          val i = base.lastIndexOf('_')
          if (i <= 0) None else Some((base.substring(0, i), base.substring(i + 1)))
        }
    }
    // a pair named twice would be fetched twice and, in the staging
    // shape, staged as duplicate uids
    val pairs = scopes.distinct.filter { case (s, c) =>
      scopeEq.forall(_ == s) && codeEq.forall(_ == c) &&
        runtimeScopes.forall(_.contains(s)) && runtimeCodes.forall(_.contains(c))
    }
    val n = pairs.size
    val k = math.min(n, SparkSession.active.sparkContext.defaultParallelism)
    Array.tabulate[InputPartition](k)(i =>
      Dv3fPartition(pairs.slice(i * n / k, (i + 1) * n / k)))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // fetcher is constructed ONCE driver-side (reflective: class name
    // from the `fetcher` option, single-String ctor taking `path`) and
    // serialized to executors with the factory
    val fetcher: PageFetcher = options.get("fetcher") match {
      case Some(cls) => Class.forName(cls).getConstructor(classOf[String])
        .newInstance(path).asInstanceOf[PageFetcher]
      case None => new FilePageFetcher(path)
    }
    // every fetcher gets retry/backoff (fetchRetries=0 disables);
    // transient 5xx/IO failures are retried executor-side, permanent
    // 4xx fail only their partition
    // option keys arrive lowercased (CaseInsensitiveStringMap)
    val hardened = new RetryingFetcher(fetcher,
      maxRetries = options.getOrElse("fetchretries", "3").toInt,
      baseBackoffMs = options.getOrElse("fetchbackoffms", "100").toLong)
    new Dv3fReaderFactory(hardened, required, limit, pushedAgg, pivot)
  }
}

/** One scan task's (scope, code) pairs, in planning order. */
case class Dv3fPartition(pairs: Seq[(String, String)]) extends InputPartition

class Dv3fReaderFactory(fetcher: PageFetcher, required: StructType,
    limit: Option[Int] = None,
    pushedAgg: Option[(Seq[String], Seq[Dv3fAgg])] = None,
    pivot: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val pairs = partition.asInstanceOf[Dv3fPartition].pairs
    // one reader per pair, each opened only when the previous one is
    // drained: every pair keeps its own page chain, visited set and limit
    def chain(schema: StructType, cap: Option[Int]) = new Dv3fChainReader(
      pairs.iterator.map { case (s, c) => new Dv3fPartitionReader(fetcher, s, c, schema, cap) })
    if (pivot) new Dv3fChainReader(
      pairs.iterator.map { case (s, c) => new Dv3fPivotReader(fetcher, s, c, required) })
    else pushedAgg match {
      case Some((groups, aggs)) =>
        // aggregate over the FULL long schema; the page chains still
        // stream (rows are folded into the group map as pages drain)
        new Dv3fAggPartitionReader(chain(Dv3fSource.schema, None), groups, aggs)
      case None => chain(required, limit)
    }
  }
}

/** The rows of several readers, one reader after the other. */
class Dv3fChainReader(readers: Iterator[PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var current: PartitionReader[InternalRow] = _
  override def next(): Boolean = {
    while (current == null || !current.next()) {
      close()
      if (!readers.hasNext) return false
      current = readers.next()
    }
    true
  }
  override def get(): InternalRow = current.get()
  override def close(): Unit = if (current != null) { current.close(); current = null }
}

/** Executor-side partial aggregation over one scan task's long rows,
  * across all of its (scope, code) pairs — the edge half of a
  * pushed-down Spark aggregation. Rows are folded into a group map AS
  * PAGES DRAIN (nothing buffers beyond |groups| states), then one row
  * per group is emitted in encounter order. Spark's final aggregate merges these partials, so semantics
  * are exactly the unpushed plan's, whichever pairs share a task; the
  * win is that only |groups| rows per task cross from the fetch edge
  * into the exchange.
  */
class Dv3fAggPartitionReader(inner: PartitionReader[InternalRow],
    groups: Seq[String], aggs: Seq[Dv3fAgg])
    extends PartitionReader[InternalRow] {
  private val full = Dv3fSource.schema
  private val gIdx = groups.map(full.fieldIndex).toArray
  private val aIdx = aggs.map {
    case Dv3fCount(c) => full.fieldIndex(c)
    case Dv3fMin(c) => full.fieldIndex(c)
    case Dv3fMax(c) => full.fieldIndex(c)
    case Dv3fCountStar => -1
  }.toArray

  private lazy val out: Iterator[InternalRow] = {
    // one Array[Any] of agg states per group key: Long for counts,
    // java.lang.Double (null = unseen) for min/max
    val acc = scala.collection.mutable.LinkedHashMap[Seq[Any], Array[Any]]()
    while (inner.next()) {
      val r = inner.get()
      val key: Seq[Any] =
        gIdx.map(i => if (r.isNullAt(i)) null else r.get(i, full(i).dataType)).toSeq
      val st = acc.getOrElseUpdate(key, aggs.map {
        case Dv3fCountStar | Dv3fCount(_) => java.lang.Long.valueOf(0L)
        case _ => null
      }.toArray[Any])
      var i = 0
      while (i < aggs.length) {
        aggs(i) match {
          case Dv3fCountStar =>
            st(i) = java.lang.Long.valueOf(st(i).asInstanceOf[java.lang.Long] + 1L)
          case Dv3fCount(_) =>
            if (!r.isNullAt(aIdx(i)))
              st(i) = java.lang.Long.valueOf(st(i).asInstanceOf[java.lang.Long] + 1L)
          case Dv3fMin(_) =>
            if (!r.isNullAt(aIdx(i))) {
              val v = r.getDouble(aIdx(i))
              val cur = st(i).asInstanceOf[java.lang.Double]
              if (cur == null || v < cur) st(i) = java.lang.Double.valueOf(v)
            }
          case Dv3fMax(_) =>
            if (!r.isNullAt(aIdx(i))) {
              val v = r.getDouble(aIdx(i))
              val cur = st(i).asInstanceOf[java.lang.Double]
              if (cur == null || v > cur) st(i) = java.lang.Double.valueOf(v)
            }
        }
        i += 1
      }
    }
    acc.iterator.map { case (key, st) =>
      val row = new GenericInternalRow(gIdx.length + aggs.length)
      key.zipWithIndex.foreach { case (v, i) =>
        if (v == null) row.setNullAt(i) else row.update(i, v)
      }
      st.zipWithIndex.foreach { case (v, i) =>
        val p = gIdx.length + i
        v match {
          case null => row.setNullAt(p)
          case l: java.lang.Long => row.setLong(p, l)
          case d: java.lang.Double => row.setDouble(p, d)
        }
      }
      row: InternalRow
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (out.hasNext) { current = out.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** Executor-side payload fetch + flatten + melt for one (scope, code).
  * Each API page (reference: paginated GET per partition,
  * scripts/extract_load.py:69-94) is fetched through the injected
  * [[PageFetcher]], `results` is flattened (pandas json_normalize
  * equivalent) and melted to long rows on the fly — no driver
  * involvement, no per-row allocation beyond the emitted InternalRow.
  * All pages of one (scope, code) concatenate within this reader,
  * lazily ([[Dv3fSource.results]]).
  */
class Dv3fPartitionReader(fetcher: PageFetcher, scope: String, code: String,
    required: StructType, limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  // column pruning: emit only the pruned schema's fields, in its order
  private val fieldIdx: Array[String] = required.fieldNames

  private val rows: Iterator[InternalRow] = limit.foldLeft(
    Dv3fSource.results(fetcher, scope, code).flatMap(flattenPage)) { (it, l) =>
    // pushed-down limit: take(l) on the lazy page chain — once l rows
    // have been emitted no further `next` is ever followed, whatever
    // the downstream consumer does with the iterator
    it.take(l)
  }

  private def flattenPage(results: JsonNode): Iterator[InternalRow] =
    results.elements().asScala.flatMap { obj: JsonNode =>
      val annee = Dv3fSource.annee(obj)
      val lib = Dv3fSource.lib(obj)
      obj.fields().asScala
        .filterNot(e => Dv3fSource.idFields.contains(e.getKey))
        // metric fields are numeric (or null) in the API contract; a
        // string or nested-object field must be SKIPPED, not silently
        // coerced to 0.0 by asDouble — one malformed indicator should
        // drop that cell, not fabricate a value
        .filter(e => e.getValue == null || e.getValue.isNull || e.getValue.isNumber)
        .map { e =>
          val v = e.getValue
          val row = new GenericInternalRow(fieldIdx.length)
          fieldIdx.zipWithIndex.foreach { case (name, i) =>
            name match {
              case "scope" => row.update(i, UTF8String.fromString(scope))
              case "code" => row.update(i, UTF8String.fromString(code))
              case "annee" =>
                row.update(i, if (annee == null) null else UTF8String.fromString(annee))
              case "lib" =>
                row.update(i, if (lib == null) null else UTF8String.fromString(lib))
              case "cod_full" => row.update(i, UTF8String.fromString(e.getKey))
              case "valeur" =>
                if (v == null || v.isNull) row.setNullAt(i)
                else row.setDouble(i, v.asDouble())
            }
          }
          row: InternalRow
        }
    }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Executor-side melt → split → pivot for one (scope, code), in the
  * staging shape: the whole page chain is folded into one row per
  * (annee, lib, cod), each metric field name split as
  * [[Dv3fSource.splitCod]]. A metric cell takes the first non-null
  * numeric value in page order (pandas `first`), and a group forms on
  * any non-null numeric cell, also one whose metric is not a column
  * here (undeclared, or pruned away) — so column pruning never changes
  * which rows come out. Rows are emitted once the chain is drained; the
  * state is one chain's groups.
  */
class Dv3fPivotReader(fetcher: PageFetcher, scope: String, code: String,
    required: StructType) extends PartitionReader[InternalRow] {

  private val metricIdx: Map[String, Int] = required.fieldNames.zipWithIndex
    .filterNot { case (n, _) => Dv3fSource.stagingKeys.contains(n) }.toMap

  private def newRow(annee: String, lib: String, cod: String): GenericInternalRow = {
    val row = new GenericInternalRow(required.length)
    // UTF8String.fromString(null) is null; a metric stays null until a value is seen
    val keys = Map("scope" -> scope, "code" -> code, "annee" -> annee, "lib" -> lib, "cod" -> cod)
    required.fieldNames.zipWithIndex.foreach { case (name, i) =>
      keys.get(name).foreach(v => row.update(i, UTF8String.fromString(v)))
    }
    row
  }

  private lazy val rows: Iterator[InternalRow] = {
    val groups = scala.collection.mutable.LinkedHashMap[(String, String, String), GenericInternalRow]()
    val splits = scala.collection.mutable.HashMap[String, (Option[Int], String)]()
    for (results <- Dv3fSource.results(fetcher, scope, code);
         obj <- results.elements().asScala) {
      val annee = Dv3fSource.annee(obj)
      val lib = Dv3fSource.lib(obj)
      for (e <- obj.fields().asScala
           if e.getValue.isNumber && !Dv3fSource.idFields.contains(e.getKey)) {
        val (metric, cod) = splits.getOrElseUpdate(e.getKey, {
          val (m, c) = Dv3fSource.splitCod(e.getKey)
          (metricIdx.get(m), c)
        })
        val row = groups.getOrElseUpdate((annee, lib, cod), newRow(annee, lib, cod))
        metric.filter(row.isNullAt).foreach(row.setDouble(_, e.getValue.asDouble()))
      }
    }
    groups.valuesIterator
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
