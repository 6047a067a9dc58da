package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Read-only `TableCatalog` plugin exposing the synthetic documents
  * generator to pure SQL — the catalog API surface of the engine:
  *
  * {{{
  *   val spark = graft.GraftSession.local(cores = 4) // registers it as `graft`
  *   spark.sql("SELECT count(*) FROM graft.docs.docs_1000000_16")
  *   spark.sql("SELECT lang, count(*) FROM graft.docs.docs_100000 GROUP BY lang")
  * }}}
  *
  * Table names are `docs_<rows>[_<partitions>]` under the single `docs`
  * namespace (partitions default to 8). Resolution is pure — no metastore,
  * no files; the identifier IS the table definition, so every capability
  * of [[DocsTable]] (pushdown, runtime filtering, statistics, streaming)
  * composes with SQL planning unchanged. DDL mutations are rejected: the
  * catalog is a read-only view of a generated keyspace.
  *
  * Scale note: a real warehouse catalog resolves names to storage + stats
  * the same way — the planner consumes `Table`/`Scan` contracts only, so
  * swapping this for a metastore-backed implementation changes resolution,
  * never planning.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private val Ns = Array("docs")
  private val TableName = """docs_(\d+)(?:_(\d+))?(?:_(bucket))?""".r

  // `USE graft` + `SHOW TABLES` resolves through the catalog's default
  // namespace; the interface default (empty array) makes the bare catalog
  // unusable as a current catalog (listTables([]) has no namespace to
  // serve) — docs is the only namespace, so it is the default
  override def defaultNamespace(): Array[String] = Ns

  /** Parse `docs_<rows>[_<parts>][_bucket]`; None for anything malformed —
    * an unparseable numeral (overflow) or parts=0 is a table that does not
    * EXIST, never an internal error surfacing from planning. The `_bucket`
    * suffix selects the bucket layout whose scans report key-grouped
    * partitioning (storage-partitioned joins — see [[DocsScan]]). */
  private def parse(name: String): Option[(Long, Int, String)] = name match {
    case TableName(rows, parts, bucket) =>
      try {
        val r = rows.toLong
        val p = if (parts == null) 8 else parts.toInt
        val layout = if (bucket == null) "range" else "bucket"
        if (r >= 0 && p >= 1) Some((r, p, layout)) else None
      } catch { case _: NumberFormatException => None }
    case _ => None
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Ns))
      Array(Identifier.of(Ns, "docs_1000")) // representative; the space is infinite
    else throw new NoSuchNamespaceException(namespace)

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.sameElements(Ns) && parse(ident.name).isDefined

  override def loadTable(ident: Identifier): Table =
    if (ident.namespace.sameElements(Ns)) parse(ident.name) match {
      case Some((rows, parts, layout)) => new DocsTable(rows, parts, layout)
      case None => throw new NoSuchTableException(ident)
    } else throw new NoSuchTableException(ident)

  // ---- FunctionCatalog: the transforms this catalog's tables partition
  // by. Storage-partitioned-join planning resolves a scan's reported
  // `bucket(n, doc_id)` against the owning catalog's function registry
  // (exactly how Iceberg ships its transform functions), so the catalog
  // must be able to hand Spark an evaluable definition of `bucket`.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Ns))
      Array(Identifier.of(namespace, "bucket"),
        Identifier.of(namespace, "lang_of"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.isEmpty || ident.namespace.sameElements(Ns))
      ident.name match {
        case "bucket"  => GraftCatalog.BucketFunction
        case "lang_of" => GraftCatalog.LangOfFunction
        case _         => throw new NoSuchFunctionException(ident)
      }
    else throw new NoSuchFunctionException(ident)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
}

object GraftCatalog {
  /** `bucket(n, id) = floorMod(id, n)` — the modulo transform
    * [[DocsScan]]'s bucket layout partitions by. The partition key each
    * [[DocsBucketRange]] reports IS this function applied to any of its
    * rows, which is the invariant storage-partitioned join planning
    * relies on when it matches partition values across join sides. */
  object BucketFunction extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets int, doc_id bigint): floorMod(doc_id, numBuckets)"
    // the UnboundFunction contract: reject unbindable input with
    // UnsupportedOperationException — that is what Spark's function
    // resolution (and SPJ's loadV2FunctionOpt) catches to produce a
    // clean analysis error / unknown-partitioning fallback; any other
    // exception escapes to the user as a raw internal error
    override def bind(inputType: StructType): BoundFunction = {
      val ok = inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType &&
        inputType.fields(1).dataType == LongType
      if (!ok) throw new UnsupportedOperationException(
        s"bucket expects (numBuckets int, value bigint), got $inputType")
      Bound
    }
    object Bound extends ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        // bind() can only check types, not values: a literal 0 bucket
        // count reaches here and floorMod would surface a raw
        // ArithmeticException — reject it as the clean contract error
        if (n <= 0) throw new IllegalArgumentException(
          s"bucket: numBuckets must be positive, got $n")
        Math.floorMod(input.getLong(1), n.toLong).toInt
      }
    }
  }

  /** `lang_of(doc_id)` — the generator's deterministic language draw
    * ([[DocsSource.langOf]]) exposed as a SQL-invocable catalog SCALAR
    * function: the other half of the FunctionCatalog contract (bucket
    * above serves SPJ transform RESOLUTION; this one is a user-facing
    * function users call in queries, the way Iceberg ships
    * `system.bucket`). ONE definition — the scan's reader, the DuckDB
    * oracle twin ([[DocsOracleSql]]), and this function all derive the
    * column from the same splitmix mix, so
    * `lang <> graft.docs.lang_of(doc_id)` is empty by construction
    * (SourceSpec pins it). */
  object LangOfFunction extends UnboundFunction {
    override def name(): String = "lang_of"
    override def description(): String =
      "lang_of(doc_id bigint): the generated documents table's language for an id"
    override def bind(inputType: StructType): BoundFunction = {
      val ok = inputType.fields.length == 1 &&
        inputType.fields(0).dataType == LongType
      if (!ok) throw new UnsupportedOperationException(
        s"lang_of expects (doc_id bigint), got $inputType")
      LangBound
    }
    object LangBound extends ScalarFunction[UTF8String] {
      override def inputTypes(): Array[DataType] = Array(LongType)
      override def resultType(): DataType = StringType
      override def name(): String = "lang_of"
      override def canonicalName(): String = "graft.lang_of"
      override def isResultNullable: Boolean = false
      /** The MAGIC method: V2 function resolution finds `invoke` with
        * exactly the bound input types and plans a direct codegen'd
        * Invoke call — the row-boxing [[produceResult]] below is the
        * interpreted fallback the contract still requires. */
      def invoke(id: Long): UTF8String =
        UTF8String.fromString(DocsSource.langOf(id))
      override def produceResult(input: InternalRow): UTF8String =
        invoke(input.getLong(0))
    }
  }
}
