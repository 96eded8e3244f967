package graft.api

import graft.build.Build
import graft.cache.{CacheManager, CacheStorage, ParquetDirStorage}
import graft.rel._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The user-facing fluent surface — the analogue of the reference's
  * `Expr` API (vendor/ibis/expr/types/relations.py): every call builds
  * a new immutable [[Rel]] and EAGERLY validates it by analyzing the
  * lowered plan, matching xorq's fail-fast construction UX (vendor
  * relations.py:225-259) instead of Spark's lazy analysis.
  *
  * Validation is incremental: a call lowers only the node it adds, on
  * top of the already-analyzed frames of its input tables, so each
  * call analyzes one new plan node (none for the transparent
  * `cache`/`tag`/`tee`) and each leaf scan is resolved once per
  * composition, not once per later call. A parquet leaf's schema comes
  * from one footer read on the driver ([[graft.interop.ParquetRead]]),
  * so composing runs no Spark job. Execution still lowers the whole
  * plan afresh, after cache resolution ([[GraftTable.execute]]).
  *
  * A [[GraftSession]] owns the Spark session, the unbound-table
  * bindings, and the cache storages; tables flow through the algebra so
  * everything remains serializable/hashable/cacheable at any point.
  */
final class GraftSession(
    val spark: SparkSession,
    val bindings: Map[String, DataFrame] = Map.empty,
    storages: Map[String, CacheStorage] = Map.empty,
    /** Exchange-target name → durable root for [[Exchange]] barriers
      * (`intoCatalog`). Unlisted targets default to
      * `<tmpdir>/graft_exchange/<target>` so each target still gets
      * its own durable location; production sessions configure real
      * warehouse paths here. */
    exchangeRoots: Map[String, String] = Map.empty,
    /** Named UDXF/UDWF implementations resolvable by the algebra's
      * [[UdxfRel]]/[[UdwfRel]] nodes. */
    val functions: graft.udf.FunctionCatalog =
      graft.udf.FunctionCatalog.empty) {

  private def exchangeRootFor(target: String): String =
    exchangeRoots.getOrElse(target,
      s"${System.getProperty("java.io.tmpdir")}/graft_exchange/$target")

  lazy val cacheManager = new CacheManager(spark,
    if (storages.nonEmpty) storages
    else Map("default" -> new ParquetDirStorage(spark,
      s"${System.getProperty("java.io.tmpdir")}/graft_cache")),
    exchanges = Map.empty.withDefault(exchangeRootFor),
    catalog = functions)

  def readParquet(path: String): GraftTable =
    GraftTable(ScanParquet(path), this)

  /** Deferred Delta Lake read; requires delta-spark on the classpath. */
  def readDelta(path: String): GraftTable =
    GraftTable(ReadDelta(path), this)

  /** Deferred Avro read (Spark 4 bundles the avro format natively). */
  def readAvro(path: String): GraftTable =
    GraftTable(ReadAvro(path), this)

  /** Deferred XML read; `rowTag` names the repeating record element. */
  def readXml(path: String, rowTag: String = "row"): GraftTable =
    GraftTable(ReadXml(path, rowTag), this)

  /** Deferred JDBC read; give a numeric `partitionColumn` + bounds for
    * a parallel range-partitioned scan (the scale path). */
  def readJdbc(url: String, table: String,
      props: Seq[(String, String)] = Nil,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0L, upperBound: Long = 0L,
      numPartitions: Int = 1): GraftTable =
    GraftTable(ReadJdbc(url, table, props, partitionColumn, lowerBound,
      upperBound, numPartitions), this)

  def readCsv(path: String, header: Boolean = true,
      inferSchema: Boolean = true, delimiter: String = ","): GraftTable =
    GraftTable(ReadCsv(path, header, inferSchema, delimiter), this)

  /** Deferred Arrow IPC directory read (written by `toArrowDir` or any
    * Arrow producer). */
  def readArrowDir(path: String): GraftTable =
    GraftTable(ScanArrow(path), this)

  /** Register a live Arrow IPC stream as a named table (the
    * reference's `read_record_batches`, backend.py:729): the stream is
    * decoded once, bound under `name`, and the returned session's
    * `table(name)` plans against it like any binding. */
  def registerArrow(name: String, ipcBytes: Array[Byte]): GraftSession =
    bind(name -> graft.interop.ArrowIpc.fromBytes(spark, ipcBytes))

  /** Serializable placeholder resolved from `bindings` at execution. */
  def table(name: String, schema: (String, String)*): GraftTable =
    GraftTable(UnboundTable(name, schema), this)

  def values(columns: Seq[(String, String)],
      rows: Seq[Seq[String]]): GraftTable =
    GraftTable(InMemory(columns, rows), this)

  def bind(more: (String, DataFrame)*): GraftSession =
    // carry EVERY config forward — dropping exchangeRoots/functions
    // here silently reset the catalog on bound sessions (review-caught)
    new GraftSession(spark, bindings ++ more, storages, exchangeRoots,
      functions)

  def load(buildsDir: String, hash: String): GraftTable =
    GraftTable(Build.load(buildsDir, hash), this)

  /** Execute a raw plan through the effects pass (cache resolution +
    * tee write-through) — same path as [[GraftTable.execute]]. */
  def execute(rel: Rel): DataFrame = cacheManager.execute(rel, bindings)
}

final case class GraftTable(rel: Rel, session: GraftSession) {

  /** The tables this one was built on, kept only until `df` is forced:
    * afterwards the frame holds their analyzed plans, and keeping the
    * tables too would pin every intermediate frame of a chain. */
  private var inputs: Seq[GraftTable] = Nil

  /** Analyzed lowering (no execution) — also the fail-fast validation:
    * construction of an invalid plan throws here, eagerly. Only `rel`'s
    * own node is lowered; the input tables' sub-plans are taken as the
    * frames those tables already analyzed. */
  lazy val df: DataFrame = {
    val lowered = inputs.map(t => t.rel -> t.df)
    inputs = Nil
    new Lower(session.spark, session.bindings, session.functions, lowered)
      .lower(rel)
  }

  lazy val schema: StructType = df.schema

  /** The table for `r`, a plan over this table's and `others`' plans,
    * validated now: fail at construction, xorq-style. */
  private def next(r: Rel, others: GraftTable*): GraftTable = {
    val t = GraftTable(r, session)
    t.inputs = this +: others
    t.schema
    t
  }

  // ------------------------------------------------------- relational
  def select(exprs: (String, RExpr)*): GraftTable =
    next(Project(rel, exprs))
  /** Keep the columns a [[Selector]] matches (schema order) — the
    * reference's `t.select(s.numeric())` sugar. Lowers to a plain
    * Project, so the plan stays serializable/hashable. */
  def selectCols(sel: Selector): GraftTable = {
    val names = sel.expand(schema)
    require(names.nonEmpty, "selector matched no columns")
    next(Project(rel, names.map(n => n -> (RCol(n): RExpr))))
  }
  /** Drop the columns a [[Selector]] matches; everything else stays. */
  def dropCols(sel: Selector): GraftTable = selectCols(!sel)
  /** Apply one expression builder to every selected column, keeping
    * unselected columns as-is (the reference's `across(sel, fn)`):
    * `t.across(Selectors.numeric)((n, c) => RCall("round", c))`. */
  def across(sel: Selector)(
      f: (String, RExpr) => RExpr): GraftTable = {
    val hit = sel.expand(schema).toSet
    next(Project(rel, schema.fieldNames.toSeq.map { n =>
      n -> (if (hit(n)) f(n, RCol(n)) else (RCol(n): RExpr))
    }))
  }
  def filter(pred: RExpr): GraftTable = next(Filter(rel, pred))
  def join(other: GraftTable, how: String, on: RExpr*): GraftTable =
    next(Join(rel, other.rel, how, on), other)
  def asofJoin(other: GraftTable, on: Seq[String], leftTime: String,
      rightTime: String, rightCols: Seq[(String, String)],
      tolerance: Option[String] = None): GraftTable =
    next(AsofJoinRel(rel, other.rel, on, leftTime, rightTime, rightCols,
      tolerance), other)
  def groupBy(keys: (String, RExpr)*)(aggs: (String, RExpr)*): GraftTable =
    next(Aggregate(rel, keys, aggs))
  def orderBy(keys: SortKey*): GraftTable = next(Sort(rel, keys))
  def limit(n: Long, offset: Long = 0): GraftTable =
    next(Limit(rel, n, offset))
  def distinct: GraftTable = next(Distinct(rel))
  def distinctOn(on: Seq[String], orderBy: Seq[SortKey],
      keepFirst: Boolean = true): GraftTable =
    next(Distinct(rel, on, orderBy, keepFirst))
  def unionAll(o: GraftTable): GraftTable =
    next(SetOp("union_all", rel, o.rel), o)
  def union(o: GraftTable): GraftTable = next(SetOp("union", rel, o.rel), o)
  def intersect(o: GraftTable): GraftTable =
    next(SetOp("intersect", rel, o.rel), o)
  def except(o: GraftTable): GraftTable = next(SetOp("except", rel, o.rel), o)
  def sample(fraction: Double, seed: Long): GraftTable =
    next(Sample(rel, fraction, seed))
  def fillNull(repl: (String, String)*): GraftTable =
    next(FillNull(rel, repl))
  def dropNull(how: String = "any", subset: Seq[String] = Nil): GraftTable =
    next(DropNull(rel, how, subset))
  def unnest(column: String, keepEmpty: Boolean = false): GraftTable =
    next(Unnest(rel, column, keepEmpty))
  def windowProject(keep: Seq[String], wins: WinExpr*): GraftTable =
    next(WindowProject(rel, keep, wins))

  // --------------------------------------------------- differentiators
  def cache(storage: String = "default",
      strategy: String = "snapshot"): GraftTable =
    next(Cache(rel, storage, strategy))
  def intoCatalog(target: String): GraftTable = next(Exchange(rel, target))
  def tag(key: String, value: String, hashing: Boolean = false): GraftTable =
    next(Tag(rel, key, value, hashing))
  def tee(sinkPath: String): GraftTable = next(Tee(rel, sinkPath))
  /** Write-audit-publish: stage under `sink`, run `audit` (a plan over
    * the staged relation, bound as [[graft.ops.Wap.StagedBinding]];
    * rows = violations), promote atomically only on a clean audit. */
  def publish(sink: String, audit: Rel): GraftTable =
    next(Publish(rel, sink, audit))
  /** Apply a catalog-registered UDXF; the node captures the full
    * schema contract so the plan hashes/builds self-describingly. */
  def applyUdxf(name: String): GraftTable = {
    val u = session.functions.udxfs.getOrElse(name,
      throw new IllegalArgumentException(s"udxf '$name' not registered"))
    next(UdxfRel(rel, name,
      graft.udf.FunctionCatalog.ddl(u.schemaIn.fields.toSeq),
      graft.udf.FunctionCatalog.ddl(u.schemaOut.fields.toSeq)))
  }
  /** Apply a catalog-registered UDWF (contract captured in the node). */
  def applyUdwf(name: String): GraftTable = {
    val u = session.functions.udwfs.getOrElse(name,
      throw new IllegalArgumentException(s"udwf '$name' not registered"))
    next(UdwfRel(rel, name, u.partitionBy, u.orderBy, u.outName,
      u.outType.sql, u.mode.kind, u.params))
  }
  /** Deferred pipeline fit: the result is the MODEL as a relation. */
  def fit(steps: StepSpec*): GraftTable = next(FitRel(rel, steps))
  /** Apply a fitted model relation to this table. */
  def transformWith(model: GraftTable, steps: StepSpec*): GraftTable =
    next(TransformRel(rel, model.rel, steps), model)

  // --------------------------------------------------------- lifecycle
  def bindParams(values: (String, String)*): GraftTable =
    next(Params.bind(rel, values.toMap))
  def buildHash: String = RelHash.buildHash(rel)
  def cacheHash: String = RelHash.cacheHash(rel)
  /** Execute and write the result as an Arrow IPC directory (the
    * interchange data plane; read back via [[graft.rel.ScanArrow]]). */
  def toArrowDir(path: String): Unit =
    graft.interop.ArrowIpc.write(execute(), path)
  /** Execute and collect the result as ONE Arrow IPC stream — the
    * reference's `to_pyarrow` (driver-side; small results). */
  def toArrowBytes(): Array[Byte] =
    graft.interop.ArrowIpc.toBytes(execute())
  def toJson: String = RelJson.write(rel)
  def save(buildsDir: String): Build.Artifact = Build.save(rel, buildsDir)

  /** Resolve caches, lower, return the executable frame. */
  def execute(): DataFrame =
    session.cacheManager.execute(rel, session.bindings)
}

/** Expression DSL: `import graft.api.dsl._` then `c("x") > L(1)` etc. */
object dsl {
  def c(name: String): RExpr = RCol(name)
  def L(v: String, dtype: String = "string"): RExpr = RLit(v, dtype)
  def i(v: Long): RExpr = RLit(v.toString, "bigint")
  def d(v: Double): RExpr = RLit(v.toString, "double")
  def fn(name: String, args: RExpr*): RExpr = RCall(name, args)
  def agg(name: String, args: RExpr*): RExpr = RAgg(name, args)
  def countAll: RExpr = RAgg("count", Nil)
  def raw(sql: String): RExpr = RRaw(sql)
  def param(name: String, dtype: String,
      default: Option[String] = None): RExpr = RParam(name, dtype, default)
  def asc(e: RExpr): SortKey = SortKey(e, asc = true, nullsFirst = true)
  def desc(e: RExpr): SortKey = SortKey(e, asc = false, nullsFirst = false)

  implicit final class ExprOps(private val e: RExpr) extends AnyVal {
    def +(o: RExpr): RExpr = RBin("+", e, o)
    def -(o: RExpr): RExpr = RBin("-", e, o)
    def *(o: RExpr): RExpr = RBin("*", e, o)
    def /(o: RExpr): RExpr = RBin("/", e, o)
    def ===(o: RExpr): RExpr = RBin("=", e, o)
    def =!=(o: RExpr): RExpr = RBin("!=", e, o)
    def <(o: RExpr): RExpr = RBin("<", e, o)
    def <=(o: RExpr): RExpr = RBin("<=", e, o)
    def >(o: RExpr): RExpr = RBin(">", e, o)
    def >=(o: RExpr): RExpr = RBin(">=", e, o)
    def &&(o: RExpr): RExpr = RBin("and", e, o)
    def ||(o: RExpr): RExpr = RBin("or", e, o)
    def cast(dtype: String): RExpr = RCast(e, dtype)
  }
}
