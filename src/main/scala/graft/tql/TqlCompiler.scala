package graft.tql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Container
import graft.ts.TimeSeriesOps

/** Compiles a parsed TQL query into a DataFrame pipeline over a container.
  *
  * Mirrors the reference execution path (QueryForCollection/TimeSeries::
  * doQuery + doSelection, /root/reference/server/query_collection.cpp:172,507)
  * declaratively: WHERE -> filter, ORDER BY/LIMIT/OFFSET -> orderBy/limit,
  * aggregations -> agg, selection functions -> graft.ts operators. Index
  * selection (DNF + B+tree probing in the reference) is Catalyst's job —
  * filters push down to the parquet scan.
  */
object TqlCompiler {
  import TqlAst._

  def run(container: Container, tql: String): DataFrame =
    compile(container, TqlParser.parse(tql))

  def compile(container: Container, q: Query): DataFrame = {
    // TQL is per-container: an explicit FROM must name this container, and
    // a db qualifier must name the connection's database — this engine's
    // single catalog db, GridDB's default `public`
    // (Query::setFromCollection, query.cpp:369-392)
    q.from.foreach { ref =>
      ref.db.filterNot(_.equalsIgnoreCase("public")).foreach { db =>
        throw new TqlParseException(
          s"Database names given to API and specified in FROM clause are " +
            s"not equal: $db")
      }
      if (!ref.name.equalsIgnoreCase(container.name))
        throw new TqlParseException(
          s"FROM ${ref.name} does not match container ${container.name}")
    }
    if (q.explain > 0) return explain(container, q)
    val df0 = container.df
    val filtered = q.where.map(w => df0.filter(toColumn(w))).getOrElse(df0)

    q.selection match {
      case PragmaSel(n1, n2, v) =>
        // Validated no-op: the reference recognizes only `trace` and
        // silently accepts the rest (Query::setPragma, query.cpp:464-481);
        // the command yields an empty result set over the container's
        // row type
        val _ = (n1, n2, v)
        container.df.limit(0)

      case Star =>
        var out = filtered
        if (q.orderBy.nonEmpty)
          out = out.orderBy(q.orderBy.map { case (e, asc) =>
            if (asc) toColumn(e).asc else toColumn(e).desc }: _*)
        q.offset.foreach(o => out = out.offset(o.toInt))
        q.limit.foreach(l => out = out.limit(l.toInt))
        out

      case FuncSelection(f) => selection(container, filtered, q, f)
    }
  }

  /** EXPLAIN [ANALYZE]: plan rows in the reference's explain-data shape —
    * 6 columns (ID, DEPTH, EXP_TYPE, VALUE_TYPE, VALUE_STRING, STATEMENT),
    * one row per plan node, DEPTH encoding the tree
    * (Query::addExplain / makeExplainColumnInfo,
    * /root/reference/server/query.cpp:605-621, query.h:441-445,544).
    * EXP_TYPE is the physical operator (SCAN/FILTER/SORT/...), VALUE_STRING
    * the operator detail (the scan rows carry PushedFilters — the TQL
    * index-use signal). ANALYZE executes first, so the rows describe the
    * final AQE-adapted plan. */
  private def explain(container: Container, q: Query): DataFrame = {
    val inner = compile(container, q.copy(explain = 0))
    if (q.explain == 2) inner.count()
    val rows = Seq.newBuilder[(Int, Int, String, String, String, String)]
    var id = 0
    def walk(node: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      rows += ((id, depth,
        node.nodeName.toUpperCase.replaceAll("\\s+", "_"), "STRING",
        node.simpleString(500), null))
      id += 1
      val kids = node match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(inner.queryExecution.executedPlan, 0)
    val spark = container.df.sparkSession
    import spark.implicits._
    rows.result().toDF("ID", "DEPTH", "EXP_TYPE", "VALUE_TYPE",
      "VALUE_STRING", "STATEMENT")
  }

  private def tsCol(container: Container): String =
    container.timeColumn.getOrElse(
      throw new TqlParseException(
        s"${container.name} is not a TimeSeries container"))

  private def selection(container: Container, df: DataFrame, q: Query, f: FuncCall): DataFrame = {
    def arg(i: Int): Expr = f.args(i)
    def argCol(i: Int): Column = toColumn(arg(i))
    def argName(i: Int): String = arg(i) match {
      case ColRef(n) => n
      case other => throw new TqlParseException(s"expected column, got $other")
    }
    def usArg(i: Int): Long = arg(i) match {
      case TsLit(us) => us
      case other => throw new TqlParseException(s"expected TIMESTAMP(), got $other")
    }
    def tsArg(i: Int): Column = timestamp_micros(lit(usArg(i)))

    f.name match {
      // ---- aggregations (server/aggregation_func.h:918-930) ----
      case "COUNT" =>
        df.agg((if (f.star) count(lit(1)) else count(argCol(0))).as("count"))
      case "SUM" => df.agg(sum(argCol(0)).as("sum"))
      case "AVG" => df.agg(avg(argCol(0)).as("avg"))
      case "MIN" => df.agg(min(argCol(0)).as("min"))
      case "MAX" => df.agg(max(argCol(0)).as("max"))
      case "VARIANCE" | "VARIANCE_SAMP" => df.agg(var_samp(argCol(0)).as("variance"))
      case "VARIANCE_POP" => df.agg(var_pop(argCol(0)).as("variance"))
      case "STDDEV" | "STDDEV_SAMP" => df.agg(stddev_samp(argCol(0)).as("stddev"))
      case "STDDEV_POP" => df.agg(stddev_pop(argCol(0)).as("stddev"))
      case "TIME_AVG" =>
        TimeSeriesOps.timeAvg(df, tsCol(container), argName(0))

      // ---- selection functions (server/selection_func.h) ----
      case "TIME_NEXT" => TimeSeriesOps.timeNext(df, tsCol(container), tsArg(0))
      case "TIME_NEXT_ONLY" => TimeSeriesOps.timeNext(df, tsCol(container), tsArg(0), only = true)
      case "TIME_PREV" => TimeSeriesOps.timePrev(df, tsCol(container), tsArg(0))
      case "TIME_PREV_ONLY" => TimeSeriesOps.timePrev(df, tsCol(container), tsArg(0), only = true)
      case "TIME_INTERPOLATED" =>
        TimeSeriesOps.timeInterpolated(df, tsCol(container), argName(0), tsArg(1))
      case "TIME_SAMPLING" =>
        // TIME_SAMPLING(*|col, start, end, interval, unit)
        // (selection_func.h:169-186); with * the first argument is absent
        // from the arg list and the star flag is set. The star form is
        // sample-and-hold over every column — see TimeSeriesOps engine note.
        val base = if (f.star) 0 else 1
        val unitUs = timeUnitMicros(arg(base + 3))
        val n = arg(base + 2) match {
          case NumLit(v, _) => v.toLong
          case other => throw new TqlParseException(s"expected number, got $other")
        }
        // the bounds go through as the literals' micros: the sampler needs
        // no constant folding of the bound Columns to size its grid.
        // Star: drop the loader's `<ts>_ns` NanoTimestamp twin — `*` carries
        // the row's DATA columns onto the grid, not the key's nanos alias
        TimeSeriesOps.sample(
          if (f.star) df.drop(s"${tsCol(container)}_ns") else df, tsCol(container),
          if (f.star) None else Some(argName(0)), tsArg(base), tsArg(base + 1),
          n * unitUs, Nil, Some((usArg(base), usArg(base + 1))))
      case "MAX_ROWS" => TimeSeriesOps.extremeRows(df, argName(0), isMax = true)
      case "MIN_ROWS" => TimeSeriesOps.extremeRows(df, argName(0), isMax = false)
      case "TIME_WINDOW_AGG" =>
        // TIME_WINDOW_AGG(*|col, AGG, start, end, interval, unit) — argument
        // order per the reference's parseArgument (selection_func_impl.h:
        // 997-1084: agg name at args[1], start/end/interval at args[2..4],
        // unit at args[5]); the header comment (selection_func.h:197-205)
        // omits the agg argument. The reference impl additionally REJECTS the
        // advertised * form ("column not found", selection_func_impl.h:
        // 1020-1023); we implement it as the natural extension — AGG over
        // every numeric non-key column — rather than reproducing the bug.
        val base = if (f.star) 0 else 1
        val aggName = arg(base) match {
          case ColRef(a0) => a0.toUpperCase
          case StrLit(a0) => a0.toUpperCase
          case other => throw new TqlParseException(s"expected aggregation name, got $other")
        }
        val unitMs = timeUnitMicros(arg(base + 4)) / 1000L
        val n = arg(base + 3) match {
          case NumLit(v, _) => v.toLong
          case other => throw new TqlParseException(s"expected number, got $other")
        }
        def mkAgg(vc: Column, outName: String): Column = aggName match {
          case "AVG" => avg(vc).as(outName)
          case "SUM" => sum(vc).as(outName)
          case "COUNT" => count(vc).as(outName)
          case "MIN" => min(vc).as(outName)
          case "MAX" => max(vc).as(outName)
          case other => throw new TqlParseException(s"unsupported agg $other")
        }
        val aggCols =
          if (f.star) {
            val ts = tsCol(container)
            // `<ts>_ns` is the loader's lossless NanoTimestamp twin of the
            // row key (Tables.normalizeEvents), not a data column — `*`
            // expands over data columns only, like the key itself
            val numeric = df.schema.fields.collect {
              case fld if fld.name != ts && fld.name != s"${ts}_ns" &&
                fld.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
                fld.name
            }.toSeq
            if (numeric.isEmpty)
              throw new TqlParseException("TIME_WINDOW_AGG(*): no numeric columns")
            numeric.map(c => mkAgg(col(c), s"${aggName.toLowerCase}_$c"))
          } else Seq(mkAgg(col(argName(0)), aggName.toLowerCase))
        graft.ts.GroupByRange(df, tsCol(container), usArg(base + 1) / 1000L,
          usArg(base + 2) / 1000L, n * unitMs, aggCols, graft.ts.GroupByRange.FillNone)

      case other => throw new TqlParseException(s"unknown selection/aggregation: $other")
    }
  }

  private def timeUnitMicros(e: Expr): Long = e match {
    case ColRef(u) => u.toUpperCase match {
      case "DAY" => 86400000000L
      case "HOUR" => 3600000000L
      case "MINUTE" => 60000000L
      case "SECOND" => 1000000L
      case "MILLISECOND" => 1000L
      case other => throw new TqlParseException(s"unsupported unit $other")
    }
    case other => throw new TqlParseException(s"expected time unit, got $other")
  }

  /** Expression translation (TQL scalar surface, server/function_map.cpp). */
  def toColumn(e: Expr): Column = e match {
    case ColRef(n) => col(n)
    case NumLit(v, isInt) => if (isInt) lit(v.toLong) else lit(v)
    case StrLit(s) => lit(s)
    case BoolLit(b) => lit(b)
    case NullLit => lit(null)
    case TsLit(us) => timestamp_micros(lit(us))
    case BlobLit(hex) =>
      lit(hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    case Un("not", x) => !toColumn(x)
    case Un("neg", x) => -toColumn(x)
    case Un(op, _) => throw new TqlParseException(s"unknown unary $op")
    case Bin(op, l, r) =>
      val (a, b) = (toColumn(l), toColumn(r))
      op match {
        case "and" => a && b
        case "or" => a || b
        case "xor" => a =!= b
        case "=" => a === b
        case "<>" | "!=" => a =!= b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "%" => a % b
        // bit ops (grammar rule 56, tql.cpp:255). The TQL evaluator's own
        // op switch predates them (expression.cpp:1226-1282 has no BITAND
        // case and would throw "not implemented operation"); we evaluate
        // with the reference SQL engine's semantics instead
        // (sql_internal_parser.cpp rules 313-316): 64-bit integer ops,
        // Java/Spark shift-count masking
        case "&" => a.bitwiseAND(b)
        case "|" => a.bitwiseOR(b)
        case "<<" => call_function("shiftleft", a, b)
        case ">>" => call_function("shiftright", a, b)
        case other => throw new TqlParseException(s"unknown operator $other")
      }
    case LikeExpr(x, StrLit(p), esc, not) =>
      val c = esc match {
        case Some(ch) if ch.length == 1 =>
          likeWithEscape(toColumn(x), p, ch.head)
        case _ => toColumn(x).like(p)
      }
      if (not) !c else c
    case LikeExpr(_, p, _, _) =>
      throw new TqlParseException(s"LIKE pattern must be a string literal, got $p")
    case IsNullExpr(x, not) =>
      if (not) toColumn(x).isNotNull else toColumn(x).isNull
    case IsExpr(_, r, _) =>
      // General `expr IS [NOT] expr` (rules 76-77): the reference requires
      // the RIGHT operand to evaluate to null and throws otherwise
      // (Expr::evalSubBinOp, expression.cpp:1725-1731). Only the NULL
      // literal reaches IsNullExpr at parse; any other right side is the
      // reference's error, raised here at compile instead of per-row.
      throw new TqlParseException(
        s"""Right operand of "IS" or "ISNOT" must be null, got $r""")
    case FuncCall(name, args, _) =>
      def a(i: Int) = toColumn(args(i))
      name match {
        // string (server/function_string.h)
        case "CHAR_LENGTH" => length(a(0))
        case "STRING" => a(0).cast("string")
        case "CONCAT" => concat(args.map(toColumn): _*)
        case "SUBSTRING" =>
          if (args.size >= 3) substring(a(0), posInt(args(1)), posInt(args(2)))
          else a(0).substr(a(1), length(a(0)))
        case "UPPER" => upper(a(0))
        case "LOWER" => lower(a(0))
        // math (server/function_float.h)
        case "ROUND" => round(a(0))
        case "CEILING" => ceil(a(0))
        case "FLOOR" => floor(a(0))
        // time (server/function_timestamp.h)
        case "NOW" => current_timestamp()
        case "TO_EPOCH_MS" => unix_millis(a(0))
        case "TO_TIMESTAMP_MS" => timestamp_millis(a(0))
        case "TIMESTAMP_MS" | "TIMESTAMP_US" | "TIMESTAMP_NS" =>
          // ISO string -> timestamp (ns truncates to Spark's µs)
          to_timestamp(a(0))
        case "FROM_TIMESTAMP" => a(0).cast("string")
        case "TIMESTAMP_ADD" | "TIMESTAMPADD" =>
          val unit = unitName(args(0))
          val n = args(2) match {
            case NumLit(v, true) => v.toLong
            case other => throw new TqlParseException(s"expected integer count, got $other")
          }
          a(1) + expr(s"INTERVAL '$n' $unit")
        case "TIMESTAMP_DIFF" | "TIMESTAMPDIFF" =>
          val us = unix_micros(a(1)) - unix_micros(a(2))
          unitName(args(0)) match {
            case "MILLISECOND" => (us / 1000L).cast("long")
            case "SECOND" => (us / 1000000L).cast("long")
            case "MINUTE" => (us / 60000000L).cast("long")
            case "HOUR" => (us / 3600000000L).cast("long")
            case "DAY" => (us / 86400000000L).cast("long")
            case "MONTH" => floor(months_between(a(1), a(2))).cast("long")
            case "YEAR" => floor(months_between(a(1), a(2)) / 12.0).cast("long")
            case other => throw new TqlParseException(s"unsupported unit $other")
          }
        // array (server/function_array.h) — GridDB ELEMENT is 0-based
        case "ARRAY_LENGTH" => size(a(0))
        case "ELEMENT" => element_at(a(0), (a(1) + lit(1)).cast("int"))
        // geometry (server/function_map.cpp:52-105) — WKT-string surface;
        // 3D boxes and quadratic surfaces per function_gis.h + tr-cpp/TrPv3
        // geometry generators (server/gis_generator.h:42-391):
        // TAG('EMPTY') and TAG(geom, srid) re-tag forms only — the
        // reference has no coordinate-argument constructors here
        // (construction goes through ST_GEOMFROMTEXT / ST_MAKE*)
        case "POINT" | "MULTIPOINT" | "LINESTRING" | "LINEARRING" |
             "POLYGON" | "POLYHEDRALSURFACE" | "QUADRATICSURFACE" =>
          val (src, minP, maxP) = name match {
            case "POINT" => ("MULTIPOINT", 1, 1)
            case "LINESTRING" | "LINEARRING" => ("MULTIPOINT", 2, Int.MaxValue)
            case "MULTIPOINT" => ("MULTIPOINT", 0, Int.MaxValue)
            case "POLYGON" => ("POLYGON", 0, Int.MaxValue)
            case "POLYHEDRALSURFACE" => ("MULTIPOLYGON", 0, Int.MaxValue)
            case _ => ("QUADRATICSURFACE", 0, Int.MaxValue)
          }
          args.size match {
            case 1 => graft.geometry.Geo.genEmpty(name, a(0))
            // a numeric first argument means the caller is using the removed
            // coordinate-constructor form (e.g. POINT(1, 2)); fail at parse
            // time with a pointer to the WKT constructor instead of letting
            // the generator raise a generic runtime WKT error
            case _ if args.headOption.exists(_.isInstanceOf[NumLit]) =>
              throw new TqlParseException(
                s"$name does not take coordinates — the reference's geometry " +
                  s"generators are $name('EMPTY') and $name(geom, srid) " +
                  "(gis_generator.h:42-391); construct from coordinates with " +
                  s"ST_GEOMFROMTEXT('$name(...)') or ST_MAKERECT/ST_MAKEBOX")
            case 2 => graft.geometry.Geo.genReTag(name, src, a(0), a(1), minP, maxP)
            case _ => throw new TqlParseException(
              s"$name('EMPTY') or $name(geom, srid)")
          }
        case "ST_GEOMFROMTEXT" => graft.geometry.Geo.stGeomFromText(a(0))
        case "ST_MAKERECT" => graft.geometry.Geo.stMakeRectWkt(a(0), a(1), a(2), a(3))
        case "ST_MBRINTERSECTS" => graft.geometry.Geo.stMbrIntersectsWkt(a(0), a(1))
        case "ST_GETSRID" => graft.geometry.Geo.stGetSrid(a(0))
        case "ST_MAKEBOX" =>
          require(args.size == 6, "ST_MAKEBOX(x1,y1,z1,x2,y2,z2)")
          graft.geometry.Geo.stMakeBoxWkt(a(0), a(1), a(2), a(3), a(4), a(5))
        case "ST_MAKEPLANE" =>
          require(args.size == 6, "ST_MAKEPLANE(px,py,pz,nx,ny,nz)")
          graft.geometry.Geo.stMakePlane(a(0), a(1), a(2), a(3), a(4), a(5))
        case "ST_MAKESPHERE" =>
          require(args.size == 4, "ST_MAKESPHERE(cx,cy,cz,r)")
          graft.geometry.Geo.stMakeSphere(a(0), a(1), a(2), a(3))
        case "ST_MAKECYLINDER" =>
          require(args.size == 7, "ST_MAKECYLINDER(px,py,pz,ax,ay,az,r)")
          graft.geometry.Geo.stMakeCylinder(a(0), a(1), a(2), a(3), a(4), a(5), a(6))
        case "ST_MAKECONE" =>
          require(args.size == 7, "ST_MAKECONE(px,py,pz,ax,ay,az,deg)")
          graft.geometry.Geo.stMakeCone(a(0), a(1), a(2), a(3), a(4), a(5), a(6))
        case "ST_MAKEQSF" =>
          require(args.size == 13, "ST_MAKEQSF(A1..A9,b1..b3,c)")
          graft.geometry.Geo.stMakeQsf(args.indices.map(a))
        case "ST_QSFMBRINTERSECTS" =>
          require(args.size == 2, "ST_QSFMBRINTERSECTS(qsf, geom)")
          graft.geometry.Geo.stQsfMbrIntersects(a(0), a(1))
        case other => throw new TqlParseException(s"unknown function $other")
      }
  }

  /** LIKE with an ESCAPE char, via regex translation (whole-string match,
    * %% -> .*, _ -> ., escaped chars literal). */
  private def likeWithEscape(c: Column, pattern: String, esc: Char): Column = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < pattern.length) {
      val ch = pattern(i)
      if (ch == esc && i + 1 < pattern.length) {
        sb ++= java.util.regex.Pattern.quote(pattern(i + 1).toString); i += 2
      } else {
        ch match {
          case '%' => sb ++= "(?s:.*)"
          case '_' => sb ++= "(?s:.)"
          case o => sb ++= java.util.regex.Pattern.quote(o.toString)
        }
        i += 1
      }
    }
    sb += '$'
    c.rlike(sb.toString)
  }

  private val timeUnits =
    Set("YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND", "MILLISECOND")

  private def unitName(e: Expr): String = e match {
    case ColRef(u) if timeUnits.contains(u.toUpperCase) => u.toUpperCase
    case other => throw new TqlParseException(s"expected time unit, got $other")
  }

  private def posInt(e: Expr): Int = e match {
    case NumLit(v, true) => v.toInt
    case other => throw new TqlParseException(s"expected integer literal, got $other")
  }
}
