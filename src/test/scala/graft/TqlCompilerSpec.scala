package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.engine.{Collection, Container, TimeSeries}
import graft.tql.TqlCompiler

class TqlCompilerSpec extends SparkTestBase {
  import spark.implicits._

  private def coll(df: org.apache.spark.sql.DataFrame) =
    Container("t", df, Collection)

  test("xor, like-escape, is null compile correctly") {
    val df = Seq(("a_b", Some(1)), ("axb", None), ("ayb", Some(3)))
      .toDF("s", "v")
    val got = TqlCompiler.run(coll(df),
      "select * where s like 'a!_b' escape '!' xor v is null order by s")
      .select("s").as[String].collect()
    // a_b: like=T, isnull=F -> T ; axb: F xor T -> T ; ayb: F xor F -> F
    assert(got.toSeq == Seq("a_b", "axb"))
  }

  test("ELEMENT is 0-based; ARRAY_LENGTH works") {
    val df = Seq((Seq(10, 20, 30), 1L), (Seq(5), 2L)).toDF("arr", "id")
    val got = TqlCompiler.run(coll(df),
      "select * where array_length(arr) = 3 and element(arr, 1) = 20")
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("string and math functions") {
    val df = Seq(("Hello World", 2.6)).toDF("s", "x")
    val out = TqlCompiler.run(coll(df),
      "select * where char_length(s) = 11 and upper(s) = 'HELLO WORLD' " +
        "and substring(s, 7, 5) = 'World' and round(x) = 3.0 and floor(x) = 2.0")
    assert(out.count() == 1)
  }

  test("timestamp_add / timestamp_diff") {
    val df = Seq((Timestamp.valueOf("2024-01-10 00:00:00"), 1L))
      .toDF("ts", "id")
    val c = Container("ts", df, TimeSeries, Seq("ts"), Some("ts"))
    val r1 = TqlCompiler.run(c,
      "select * where timestamp_add(HOUR, ts, 36) = TIMESTAMP('2024-01-11T12:00:00Z')")
    assert(r1.count() == 1)
    val r2 = TqlCompiler.run(c,
      "select * where timestamp_diff(DAY, ts, TIMESTAMP('2024-01-01T00:00:00Z')) = 9")
    assert(r2.count() == 1)
    val r3 = TqlCompiler.run(c,
      "select * where timestamp_ms('2024-01-10 00:00:00') = ts")
    assert(r3.count() == 1)
  }

  test("FROM clause must match the container; types map both ways") {
    val df = Seq((1L, "a")).toDF("id", "s")
    val c = graft.engine.Container("mytable", df, graft.engine.Collection)
    assert(TqlCompiler.run(c, "select * from mytable").count() == 1)
    intercept[graft.tql.TqlParseException](
      TqlCompiler.run(c, "select * from other"))
    import graft.engine.GridDbTypes._
    assert(toSpark("NANO_TIMESTAMP") == org.apache.spark.sql.types.LongType)
    assert(fromSpark(org.apache.spark.sql.types.DoubleType) == "DOUBLE")
    assert(fromSpark(arrayType("STRING")) == "STRING_ARRAY")
  }

  test("geometry predicates in TQL WHERE (WKT surface)") {
    val df = Seq((1L, "POINT(5 5)"), (2L, "POINT(20 20)"),
      (3L, "LINESTRING(8 8, 30 30)")).toDF("id", "geom")
    val got = TqlCompiler.run(coll(df),
      "select * where st_mbrintersects(geom, st_makerect(0, 0, 10, 10)) order by id")
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 3L))
    // generator forms (gis_generator.h): TAG('EMPTY') + TAG(geom, srid)
    val built = TqlCompiler.run(coll(df),
      "select * where st_getsrid(linestring(st_geomfromtext('MULTIPOINT(1 2, 3 4)'), 4326)) = 4326 limit 1")
    assert(built.count() == 1)
    val empties = TqlCompiler.run(coll(df),
      "select * where polygon('EMPTY') = 'POLYGON(EMPTY)' order by id")
    assert(empties.count() == 3)
  }

  test("approx_count_distinct within tolerance of exact") {
    val ev = graft.engine.Tables.events(spark, sfDir)
    val approx = ev.agg(approx_count_distinct($"user_id")).as[Long].head()
    val exact = ev.select($"user_id").distinct().count()
    assert(math.abs(approx - exact).toDouble / exact <= 0.1,
      s"approx=$approx exact=$exact")
  }

  test("explain returns reference-shaped plan rows with pushed filters") {
    val ev = graft.engine.Tables.container(spark, sfDir, "events")
    val df = TqlCompiler.run(ev, "explain select * where value > 100 and event_type = 'click'")
    // the reference's 6-column explain-data schema (query.h:441-445,544)
    assert(df.columns.toSeq ==
      Seq("ID", "DEPTH", "EXP_TYPE", "VALUE_TYPE", "VALUE_STRING", "STATEMENT"))
    val rows = df.collect()
    // ids are a sequence, root depth 0, children deeper
    assert(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq)
    assert(rows.head.getInt(1) == 0 && rows.exists(_.getInt(1) > 0))
    val plan = rows.map(r => s"${r.getString(2)} ${r.getString(4)}").mkString("\n")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThan(value,100") || plan.contains("value"), plan)
    assert(rows.exists(_.getString(2).contains("SCAN")), plan)
  }

  test("TIME_SAMPLING rows come back in ascending ts_ms (row-key order)") {
    // one row every 7 s over ten minutes, value = seconds since base, so
    // every sampled value is its grid offset in seconds (the series is
    // linear: exact hits and interpolations agree)
    val baseMs = 1717200000000L // 2024-06-01T00:00:00Z
    val df = (0L until 600L by 7L)
      .map(k => (new Timestamp(baseMs + k * 1000L), k.toDouble)).toDF("ts", "value")
    val c = Container("ts", df, TimeSeries, Seq("ts"), Some("ts"))
    val got = TqlCompiler.run(c, "select TIME_SAMPLING(value, " +
        "TIMESTAMP('2024-06-01T00:00:00Z'), TIMESTAMP('2024-06-01T00:09:00Z'), 1, MINUTE)")
      .select("ts_ms", "value").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == (0L to 9L).map(m => baseMs + m * 60000L))
    got.foreach { case (t, v) =>
      assert(math.abs(v - (t - baseMs) / 1000.0) < 1e-9, s"value $v at $t") }
    // the star (sample-and-hold) form: the held row's image, same order
    val held = TqlCompiler.run(c, "select TIME_SAMPLING(*, " +
        "TIMESTAMP('2024-06-01T00:00:00Z'), TIMESTAMP('2024-06-01T00:09:00Z'), 1, MINUTE)")
      .select("ts_ms").as[Long].collect().toSeq
    assert(held == (0L to 9L).map(m => baseMs + m * 60000L))
  }
}
