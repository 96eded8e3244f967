package graft.rel

import graft.interop.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Lowers a [[Rel]] plan to a `DataFrame` — the ONLY bridge between the
  * serializable algebra and Spark. Catalyst then owns all optimization
  * (predicate pushdown, pruning, join selection, AQE): the lowering is a
  * 1:1 declarative mapping with no execution of its own, so a lowered
  * plan is exactly as scalable as the hand-written DataFrame chain.
  *
  * Mirrors the reference's backend-compile step (expr → SQLGlot → SQL,
  * vendor/ibis/backends/sql) collapsed to a direct plan construction.
  *
  * @param bindings runtime catalog for [[UnboundTable]] resolution
  * @param lowered sub-plans already lowered, matched by reference
  *   (`eq`), not by structure: each is returned as given instead of
  *   being lowered again — how the fluent API lowers only the node a
  *   builder call adds on top of its inputs' analyzed frames
  */
final class Lower(
    spark: SparkSession,
    bindings: Map[String, DataFrame] = Map.empty,
    catalog: graft.udf.FunctionCatalog = graft.udf.FunctionCatalog.empty,
    lowered: Seq[(Rel, DataFrame)] = Nil) {

  def apply(rel: Rel): DataFrame = lower(rel)

  def lower(rel: Rel): DataFrame =
    lowered.collectFirst { case (r, df) if r eq rel => df }
      .getOrElse(lowerNode(rel))

  private def lowerNode(rel: Rel): DataFrame = rel match {
    case ScanParquet(path) => ParquetRead.read(spark, path)

    case ScanArrow(path) => graft.interop.ArrowIpc.read(spark, path)

    case ReadDelta(path) => spark.read.format("delta").load(path)

    // the short name "avro" is special-cased by lookupDataSource to
    // demand the external spark-avro module, but this Spark build
    // bundles AvroFileFormat inside spark-sql — address it by class
    // name, which DataSource instantiates directly
    case ReadAvro(path) => spark.read
      .format("org.apache.spark.sql.avro.AvroFileFormat").load(path)

    case ReadXml(path, rowTag) =>
      spark.read.option("rowTag", rowTag).xml(path)

    case ReadJdbc(url, table, props, partCol, lo, hi, nParts) =>
      var r = spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
      props.foreach { case (k, v) => r = r.option(k, v) }
      // credentials come from the environment, never the (hashed,
      // built, served) plan — see the ReadJdbc constructor guard
      sys.env.get("GRAFT_JDBC_USER").foreach(u => r = r.option("user", u))
      sys.env.get("GRAFT_JDBC_PASSWORD")
        .foreach(p => r = r.option("password", p))
      partCol.foreach { pc =>
        r = r.option("partitionColumn", pc)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", nParts)
      }
      r.load()

    case ReadCsv(path, header, inferSchema, delimiter) =>
      spark.read
        .option("header", header)
        .option("inferSchema", inferSchema)
        .option("delimiter", delimiter)
        .csv(path)

    case UnboundTable(name, schema) =>
      val df = bindings.getOrElse(name,
        throw new IllegalArgumentException(
          s"unbound table '$name' has no binding"))
      // fail-fast schema validation, xorq-style (vendor
      // relations.py:225-259 validates at construction)
      schema.foreach { case (col0, ddl) =>
        val f = df.schema.fields.find(_.name == col0).getOrElse(
          throw new IllegalArgumentException(
            s"unbound table '$name': missing column '$col0'"))
        val expected =
          org.apache.spark.sql.types.DataType.fromDDL(s"x $ddl")
            .asInstanceOf[org.apache.spark.sql.types.StructType].head.dataType
        require(f.dataType == expected,
          s"unbound table '$name': column '$col0' is ${f.dataType}, " +
            s"declared $expected")
      }
      df

    case SqlView(sql, deps) =>
      deps.foreach { case (n, d) => lower(d).createOrReplaceTempView(n) }
      spark.sql(sql)

    case InMemory(columns, rows) =>
      import scala.jdk.CollectionConverters._
      val stringSchema = org.apache.spark.sql.types.StructType(
        columns.map { case (n, _) =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.StringType)
        })
      val raw = spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava,
        stringSchema)
      raw.select(columns.map { case (n, ddl) =>
        col(n).cast(ddl).as(n)
      }: _*)

    case AsofJoinRel(l, r, on, lt, rt, rightCols, tol) =>
      graft.ops.AsofJoin.backward(lower(l), lower(r), on, lt, rt,
        rightCols, tol.map(expr))

    case PinnedRead(path, _) => ParquetRead.read(spark, path)

    case Project(in, exprs) =>
      lower(in).select(exprs.map { case (n, e) => toCol(e).as(n) }: _*)

    case Filter(in, p) => lower(in).filter(toCol(p))

    case Join(l, r, how, on) =>
      val cond = on.map(toCol).reduceOption(_ && _)
      cond match {
        case Some(c) => lower(l).join(lower(r), c, how)
        case None => lower(l).crossJoin(lower(r))
      }

    case Aggregate(in, keys, aggs) =>
      val df = lower(in)
      val aggCols = aggs.map { case (n, e) => toCol(e).as(n) }
      if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(keys.map { case (n, e) => toCol(e).as(n) }: _*)
        .agg(aggCols.head, aggCols.tail: _*)

    case WindowProject(in, keep, wins) =>
      val df = lower(in)
      val winCols = wins.map { w =>
        var spec: WindowSpec = Window.partitionBy(w.partitionBy.map(toCol): _*)
        if (w.orderBy.nonEmpty) spec = spec.orderBy(w.orderBy.map(sort): _*)
        spec = w.frame match {
          case Some(Frame("rows", s, e)) => spec.rowsBetween(s, e)
          case Some(Frame("range", s, e)) => spec.rangeBetween(s, e)
          case Some(Frame(k, _, _)) =>
            throw new IllegalArgumentException(s"bad frame kind $k")
          case None => spec
        }
        toCol(w.fn).over(spec).as(w.name)
      }
      df.select(keep.map(df.col) ++ winCols: _*)

    case Sort(in, keys) => lower(in).orderBy(keys.map(sort): _*)

    case Limit(in, n, offset) =>
      val df = lower(in)
      (if (offset > 0) df.offset(offset.toInt) else df).limit(n.toInt)

    case Distinct(in, Nil, _, _) => lower(in).distinct()
    case Distinct(in, on, orderBy, keepFirst) =>
      val df = lower(in)
      val keys =
        if (orderBy.nonEmpty) orderBy
        else on.map(n => SortKey(RCol(n), asc = true, nullsFirst = true))
      // keep=last ≡ keep=first under the reversed ordering (flip at the
      // SortKey level — a SortOrder column cannot be re-wrapped)
      val effKeys = if (keepFirst) keys
        else keys.map(k => k.copy(asc = !k.asc, nullsFirst = !k.nullsFirst))
      val w = Window.partitionBy(on.map(df.col): _*)
        .orderBy(effKeys.map(sort): _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")

    case SetOp("union_all", l, r) => lower(l).unionByName(lower(r))
    case SetOp("union", l, r) => lower(l).unionByName(lower(r)).distinct()
    case SetOp("intersect", l, r) => lower(l).intersect(lower(r))
    case SetOp("except", l, r) => lower(l).except(lower(r))
    case SetOp(k, _, _) =>
      throw new IllegalArgumentException(s"bad set op $k")

    case Sample(in, fraction, seed) => lower(in).sample(fraction, seed)

    case FillNull(in, repl) =>
      // replacement values arrive string-encoded; na.fill with string
      // map coerces per column type
      lower(in).na.fill(repl.toMap)

    case DropNull(in, how, subset) =>
      val df = lower(in)
      if (subset.isEmpty) df.na.drop(how) else df.na.drop(how, subset)

    case Unnest(in, column, keepEmpty) =>
      val df = lower(in)
      val gen = if (keepEmpty) explode_outer(df.col(column))
        else explode(df.col(column))
      df.withColumn(column, gen)

    case Cache(in, _, _) =>
      // an unresolved Cache lowers transparently (cache resolution is a
      // pre-lowering pass — graft.cache.CacheManager)
      lower(in)

    case Exchange(in, "session") =>
      // explicit non-durable mode: an in-session materialization
      // barrier (blocks live on executors — a lost executor loses the
      // partition; use a named target for anything that must survive)
      lower(in).localCheckpoint(eager = false)

    case Exchange(in, _) =>
      // named targets are durable write-read barriers, resolved as an
      // execute()-time effect (CacheManager.resolve); transparent here
      // so analysis/validation of the plan stays side-effect-free
      lower(in)

    case Tag(in, _, _, _) => lower(in)

    case Tee(in, _) =>
      // transparent here: the sink write is an EFFECT, performed once per
      // execute() by the pre-lowering pass (CacheManager.resolve), never
      // during analysis — lowering stays side-effect-free (r2 fix: the
      // fluent API eagerly analyzes every chained node, so a write here
      // re-ran the sink job N+1 times per chain).
      lower(in)

    case Publish(in, _, _) =>
      // same contract as Tee: the stage/audit/promote cycle is an
      // execute-time effect (CacheManager.resolve); plain analysis of
      // a plan containing a Publish must not write anything
      lower(in)

    case UdxfRel(in, fnName, sIn, sOut) =>
      val u = catalog.udxfs.getOrElse(fnName,
        throw new IllegalArgumentException(
          s"udxf '$fnName' not in the function catalog " +
            s"(registered: ${catalog.udxfs.keys.toSeq.sorted.mkString(", ")})"))
      // the serialized contract must match the registered code — a
      // re-typed implementation must not silently run under the old hash
      val (gotIn, gotOut) =
        (graft.udf.FunctionCatalog.ddl(u.schemaIn.fields.toSeq),
          graft.udf.FunctionCatalog.ddl(u.schemaOut.fields.toSeq))
      require(gotIn == sIn && gotOut == sOut,
        s"udxf '$fnName': registered contract $gotIn->$gotOut differs " +
          s"from the plan's declared $sIn->$sOut")
      u(lower(in))

    case UdwfRel(in, fnName, pb, ob, outName, outType, mode, params) =>
      val u = catalog.udwfs.getOrElse(fnName,
        throw new IllegalArgumentException(
          s"udwf '$fnName' not in the function catalog " +
            s"(registered: ${catalog.udwfs.keys.toSeq.sorted.mkString(", ")})"))
      require(u.partitionBy == pb && u.orderBy == ob &&
        u.outName == outName && u.outType.sql == outType,
        s"udwf '$fnName': registered window contract differs from the " +
          "plan's declared partition/order/output")
      require(u.mode.kind == mode,
        s"udwf '$fnName': registered evaluation mode '${u.mode.kind}' " +
          s"differs from the plan's declared '$mode'")
      require(u.params == params,
        s"udwf '$fnName': registered params ${u.params} differ from " +
          s"the plan's declared $params")
      u(lower(in))

    case FitRel(train, steps) =>
      graft.ml.DeferredMl.fit(lower(train), steps, catalog)

    case TransformRel(in, model, steps) =>
      graft.ml.DeferredMl.transform(lower(in), lower(model), steps, catalog)
  }

  private def sort(k: SortKey): Column = (k.asc, k.nullsFirst) match {
    case (true, true) => toCol(k.expr).asc_nulls_first
    case (true, false) => toCol(k.expr).asc_nulls_last
    case (false, true) => toCol(k.expr).desc_nulls_first
    case (false, false) => toCol(k.expr).desc_nulls_last
  }

  /** RExpr → Column. */
  def toCol(e: RExpr): Column = e match {
    case RCol(n) => col(n)
    case RLit(v, dtype) => lit(v).cast(dtype)
    case RCall(fn, args) => call_function(fn, args.map(toCol): _*)
    case RBin(op, l, r) =>
      val (a, b) = (toCol(l), toCol(r))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "%" => a % b
        case "=" => a === b
        case "!=" => a =!= b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
        case "and" => a && b
        case "or" => a || b
        case "<=>" => a <=> b
        case other =>
          throw new IllegalArgumentException(s"bad binary op $other")
      }
    case RCast(a, dtype) => toCol(a).cast(dtype)
    case RAgg(fn, args, distinct, filterOpt) =>
      // FILTER (WHERE f) ≡ aggregating when(f, arg): nulls are ignored
      // by every aggregate, and distinct-over-when preserves DISTINCT
      // semantics (null never contributes). Composes with distinct.
      val in: Seq[Column] = filterOpt match {
        case Some(f) if args.isEmpty => Seq(when(toCol(f), lit(1)))
        case Some(f) => args.map(a => when(toCol(f), toCol(a)))
        case None if args.isEmpty && fn == "count" => Seq(lit(1))
        case None => args.map(toCol)
      }
      if (!distinct) call_function(fn, in: _*)
      else fn match {
        // only these have distinct-aggregate forms in the Column API;
        // anything else must fail loudly — a silently-wrong aggregate
        // in a deserialized plan is worse than an error (ADVICE r2)
        case "count" => count_distinct(in.head, in.tail: _*)
        case "sum" => sum_distinct(in.head)
        case other => throw new IllegalArgumentException(
          s"RAgg: DISTINCT is not supported for '$other' " +
            "(supported: count, sum); use RRaw for engine-specific forms")
      }
    case RParam(name, _, default) =>
      default match {
        case Some(_) => toCol(Params.substitute(e.asInstanceOf[RParam]))
        case None => throw new IllegalArgumentException(
          s"unbound parameter '$name' (no default; bind with Params.bind)")
      }
    case RRaw(sql) => expr(sql)
  }
}

/** Scalar-parameter binding pass (bind_params, expr/api.py:424-455). */
object Params {
  /** Replace every [[RParam]] in `rel` with a literal: the bound value
    * when provided, else the declared default. */
  def bind(rel: Rel, values: Map[String, String]): Rel =
    rel.transformUp { case r => mapExprs(r, substituteIn(_, values)) }

  private[rel] def substitute(p: RParam): RExpr =
    RLit(p.default.getOrElse(
      throw new IllegalArgumentException(s"param ${p.name} unbound")),
      p.dtype)

  private def substituteIn(e: RExpr, values: Map[String, String]): RExpr =
    e match {
      case RParam(n, dtype, default) =>
        values.get(n).orElse(default) match {
          case Some(v) => RLit(v, dtype)
          case None => throw new IllegalArgumentException(
            s"param $n unbound and has no default")
        }
      case RCol(_) | RLit(_, _) | RRaw(_) => e
      case RCall(f, args) => RCall(f, args.map(substituteIn(_, values)))
      case RBin(op, l, r) =>
        RBin(op, substituteIn(l, values), substituteIn(r, values))
      case RCast(a, d) => RCast(substituteIn(a, values), d)
      case RAgg(f, args, d, fl) =>
        RAgg(f, args.map(substituteIn(_, values)), d,
          fl.map(substituteIn(_, values)))
    }

  /** Rebuild `rel` with every RExpr mapped through `f`. */
  def mapExprs(rel: Rel, f: RExpr => RExpr): Rel = rel match {
    case r: Project => r.copy(exprs = r.exprs.map { case (n, e) => (n, f(e)) })
    case r: Filter => r.copy(predicate = f(r.predicate))
    case r: Join => r.copy(on = r.on.map(f))
    case r: Aggregate => r.copy(
      keys = r.keys.map { case (n, e) => (n, f(e)) },
      aggs = r.aggs.map { case (n, e) => (n, f(e)) })
    case r: WindowProject => r.copy(wins = r.wins.map(w => w.copy(
      fn = f(w.fn),
      partitionBy = w.partitionBy.map(f),
      orderBy = w.orderBy.map(k => k.copy(expr = f(k.expr))))))
    case r: Sort => r.copy(keys = r.keys.map(k => k.copy(expr = f(k.expr))))
    case r: Distinct =>
      r.copy(orderBy = r.orderBy.map(k => k.copy(expr = f(k.expr))))
    case other => other
  }
}
