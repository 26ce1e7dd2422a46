package graft.compile

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the DuckDB → Spark SQL shim: pure text rewrites
  * first, then end-to-end execution of DuckDB-dialect text on a live
  * session with the DuckFunctions surface registered.
  */
class DuckSqlShimSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def rw(s: String): String = DuckSqlShim.rewrite(s)

  // ── text rewrites ──────────────────────────────────────────────────

  test("`::` cast on identifiers, numbers, calls and parens") {
    // integer targets gain ROUND: DuckDB's numeric→integer cast
    // rounds half away from zero where Spark's CAST truncates
    assert(rw("SELECT x::BIGINT") == "SELECT CAST(ROUND(x) AS BIGINT)")
    assert(rw("SELECT 1.5::INT") == "SELECT CAST(ROUND(1.5) AS INT)")
    assert(rw("SELECT a.b::DOUBLE FROM t") == "SELECT CAST(a.b AS DOUBLE) FROM t")
    assert(rw("SELECT f(x, y)::DECIMAL(10,2)") == "SELECT CAST(f(x, y) AS DECIMAL(10,2))")
    assert(rw("SELECT (a + b)::BIGINT") == "SELECT CAST(ROUND((a + b)) AS BIGINT)")
    assert(rw("SELECT '42'::INT") == "SELECT CAST(ROUND('42') AS INT)")
    // DuckDB-only type names map to Spark equivalents
    assert(rw("SELECT x::VARCHAR") == "SELECT CAST(x AS STRING)")
    assert(rw("SELECT x::HUGEINT") == "SELECT CAST(x AS DECIMAL(38,0))")
    assert(rw("SELECT CAST(x AS VARCHAR)") == "SELECT CAST(x AS STRING)")
  }

  test("`//` integer division becomes div") {
    assert(rw("SELECT a // b") == "SELECT a  div  b")
    assert(rw("SELECT (epoch_us(ts) // 3600) * 3600") ==
      "SELECT (epoch_us(ts)  div  3600) * 3600")
  }

  test("double-quoted identifiers become backticks") {
    assert(rw("""SELECT "my col" FROM "my table"""") ==
      "SELECT `my col` FROM `my table`")
  }

  test("subscripts become list_extract (1-based, NULL out of range incl. 0)") {
    assert(rw("SELECT arr[1]") == "SELECT list_extract(arr, 1)")
    assert(rw("SELECT split(s, ',')[2] FROM t") ==
      "SELECT list_extract(split(s, ','), 2) FROM t")
    assert(rw("SELECT t.arr[i + 1]") == "SELECT list_extract(t.arr, i + 1)")
  }

  test("slices become list_slice() with DuckDB conventions") {
    assert(rw("SELECT arr[2:4]") == "SELECT list_slice(arr, 2, 4)")
    assert(rw("SELECT arr[2:]") == "SELECT list_slice(arr, 2, -1)")
    assert(rw("SELECT arr[:3]") == "SELECT list_slice(arr, 1, 3)")
    assert(rw("SELECT arr[1:8:2]") == "SELECT list_slice(arr, 1, 8, 2)")
    assert(rw("SELECT arr[i + 1:-1]") == "SELECT list_slice(arr, i + 1, -1)")
  }

  // every expectation below was verified verbatim against DuckDB 1.0
  test("list_slice executes with DuckDB semantics: inclusive end, negatives, clamp, NULLs, step") {
    graft.functions.DuckFunctions.register(spark)
    def ints(sql: String): Seq[Int] = {
      val r = spark.sql(rw(sql)).head()
      if (r.isNullAt(0)) null else r.getSeq[Int](0)
    }
    assert(ints("SELECT list_slice([1,2,3,4,5], 2, 4)") == Seq(2, 3, 4))
    assert(ints("SELECT list_slice([1,2,3,4,5], -2, -1)") == Seq(4, 5))
    assert(ints("SELECT list_slice([1,2,3,4,5], 2, -2)") == Seq(2, 3, 4))
    assert(ints("SELECT list_slice([1,2,3,4,5], 0, 2)") == Seq(1, 2))   // 0 clamps to 1
    assert(ints("SELECT list_slice([1,2,3,4,5], -10, 2)") == Seq(1, 2)) // deep negative clamps to 1
    assert(ints("SELECT list_slice([1,2,3,4,5], 4, 99)") == Seq(4, 5))  // end clamps to len
    assert(ints("SELECT list_slice([1,2,3,4,5], 7, 9)") == Seq())       // begin past end → empty
    assert(ints("SELECT list_slice([1,2,3,4,5], 4, 2)") == Seq())       // begin > end → empty
    assert(ints("SELECT list_slice([1,2,3,4,5], 1, -10)") == Seq())     // end before begin → empty
    assert(ints("SELECT list_slice([1,2,3,4,5], NULL, 2)") == null)     // NULL bound → NULL
    assert(ints("SELECT list_slice([1,2,3,4,5], 3, NULL)") == null)
    assert(ints("SELECT list_slice([1,2,3], 1, 3, NULL)") == null)      // NULL step → NULL
    assert(ints("SELECT list_slice([1,2,3,4,5,6,7,8], 1, 8, 3)") == Seq(1, 4, 7))
    assert(ints("SELECT list_slice([1,2,3], 1, 3, -1)") == Seq())       // begin below end with negative step → empty
    assert(ints("SELECT list_slice([1,2,3,4,5], 5, 1, -2)") == Seq(5, 3, 1)) // negative step walks down
    assert(ints("SELECT ([1,2,3,4,5])[:2:-1]") == Seq(5, 4, 3, 2))      // omitted begin + negative step = from last
    assert(ints("SELECT ([1,2,3,4,5])[:2:2]") == Seq(1))
    assert(ints("SELECT list_slice(CAST(NULL AS ARRAY<INT>), 1, 2)") == null)
    assert(ints("SELECT array_slice([1,2,3], 2, 3)") == Seq(2, 3))
    // bracket forms route through the same expression; omitted bounds
    // are the list boundary
    assert(ints("SELECT ([1,2,3,4,5])[2:-2]") == Seq(2, 3, 4))
    assert(ints("SELECT ([1,2,3,4,5])[3:]") == Seq(3, 4, 5))
    assert(ints("SELECT ([1,2,3,4,5])[:3]") == Seq(1, 2, 3))
    assert(ints("SELECT ([1,2,3,4,5])[-2:]") == Seq(4, 5))
    assert(ints("SELECT ([1,2,3,4,5,6,7,8])[1:8:3]") == Seq(1, 4, 7))
    val err = intercept[Exception](spark.sql(rw("SELECT list_slice([1,2,3], 1, 3, 0)")).head())
    assert(err.getMessage.toLowerCase.contains("step"))
  }

  test("arity-sensitive function rewrites: log, regexp_extract, regexp_replace, datediff, struct_pack") {
    assert(rw("SELECT log(x)") == "SELECT log10(x)")              // 1-arg log is log10
    assert(rw("SELECT log(2, x)") == "SELECT log(2, x)")          // 2-arg agrees
    assert(rw("SELECT regexp_extract(s, 'p')") == "SELECT regexp_extract(s, 'p', 0)")
    assert(rw("SELECT regexp_extract(s, 'p', 1)") == "SELECT regexp_extract(s, 'p', 1)")
    assert(rw("SELECT regexp_replace(s, 'p', 'r')") == "SELECT duck_regexp_replace(s, 'p', 'r')")
    assert(rw("SELECT datediff('day', a, b)") == "SELECT duck_datediff('day', a, b)")
    assert(rw("SELECT date_diff('month', a, b)") == "SELECT duck_datediff('month', a, b)")
    assert(rw("SELECT datediff(a, b)") == "SELECT datediff(a, b)") // Spark's own 2-arg form
    assert(rw("SELECT struct_pack(a := 1, b := f(x, 2)).a") ==
      "SELECT named_struct('a', 1, 'b', f(x, 2)).a")
    // string literals keep their backslashes verbatim (DuckDB has no
    // escape processing; Spark's parser does, so they double)
    assert(rw("SELECT regexp_extract(s, '\\d+')") == "SELECT regexp_extract(s, '\\\\d+', 0)")
  }

  test("bare list literals become array()") {
    assert(rw("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)")
    assert(rw("SELECT f([1,2], x)") == "SELECT f(array(1,2), x)")
    assert(rw("SELECT ARRAY[1,2]") == "SELECT array(1,2)")
    // nested: literal inside a literal, subscript of a literal-valued call
    assert(rw("SELECT [[1],[2]]") == "SELECT array(array(1),array(2))")
  }

  test("struct and MAP literals become named_struct / map") {
    assert(rw("SELECT {'a': 1, 'b': 'x'}") == "SELECT named_struct('a', 1, 'b', 'x')")
    assert(rw("SELECT {a: 1}") == "SELECT named_struct('a', 1)")        // bare keys allowed
    assert(rw("SELECT {\"a b\": 1}") == "SELECT named_struct('a b', 1)") // quoted keys
    assert(rw("SELECT {'a': {'b': 2}}.a.b") ==
      "SELECT named_struct('a', named_struct('b', 2)).a.b")
    assert(rw("SELECT {'a': [1,2]}") == "SELECT named_struct('a', array(1,2))")
    // values recurse through the full token pass
    assert(rw("SELECT {'a': x::BIGINT}") ==
      "SELECT named_struct('a', CAST(ROUND(x) AS BIGINT))")
    // MAP literals take expression keys, as DuckDB's
    assert(rw("SELECT MAP {'k1': 10, 'k2': 20}") == "SELECT map('k1', 10, 'k2', 20)")
    assert(rw("SELECT MAP {1+1: upper('x')}") == "SELECT map(1+1, upper('x'))")
    assert(rw("SELECT MAP {}") == "SELECT map()")
    // spaced prefix keywords (MAP {...} / ARRAY [...])
    assert(rw("SELECT MAP  {'k': 1}") == "SELECT map('k', 1)")
    assert(rw("SELECT ARRAY [1,2]") == "SELECT array(1,2)")
    // a bare key that collides with a clause keyword must not be
    // mistaken for one by the QUALIFY/COLUMNS scans
    assert(rw("SELECT {from: 1}.from AS f FROM t") ==
      "SELECT named_struct('from', 1).from AS f FROM t")
    intercept[IllegalArgumentException](rw("SELECT {}")) // DuckDB rejects it too
  }

  test("string subscripts become struct_extract") {
    assert(rw("SELECT s['name']") == "SELECT struct_extract(s, 'name')")
    assert(rw("SELECT ({'a': 1})['a']") ==
      "SELECT struct_extract((named_struct('a', 1)), 'a')")
    assert(rw("SELECT arr[1]") == "SELECT list_extract(arr, 1)") // ints stay list_extract
    // subscript after field access on a group result: the operand is
    // the whole `call().field` chain, not just `.field`
    assert(rw("SELECT struct_pack(l := [1,2]).l[2]") ==
      "SELECT list_extract(named_struct('l', array(1,2)).l, 2)")
    assert(rw("SELECT {'l': [1,2,3]}.l[2]") ==
      "SELECT list_extract(named_struct('l', array(1,2,3)).l, 2)")
  }

  test("strings and comments pass through untouched") {
    assert(rw("SELECT 'a::b // c [1]' AS s") == "SELECT 'a::b // c [1]' AS s")
    assert(rw("SELECT x -- cast::later [1]\nFROM t") ==
      "SELECT x -- cast::later [1]\nFROM t")
    assert(rw("SELECT /* x::y */ 1") == "SELECT /* x::y */ 1")
    assert(rw("SELECT 'it''s'") == "SELECT 'it''s'")
  }

  test("QUALIFY on an alias wraps into a subquery; inline windows hoist as __qwN") {
    assert(rw("SELECT a, rn FROM t QUALIFY rn = 1") ==
      "SELECT * FROM (\nSELECT a, rn FROM t\n) __qualify_sub WHERE rn = 1")
    assert(rw("SELECT a, rn FROM t QUALIFY rn <= 2 ORDER BY a LIMIT 5") ==
      "SELECT * FROM (\nSELECT a, rn FROM t\n) __qualify_sub WHERE rn <= 2 ORDER BY a LIMIT 5")
    // dialect rewrites still apply to both halves
    assert(rw("SELECT a, rn FROM t QUALIFY rn::INT = 1") ==
      "SELECT * FROM (\nSELECT a, rn FROM t\n) __qualify_sub WHERE CAST(ROUND(rn) AS INT) = 1")
    // inline window: hoisted into the inner select list, filtered via
    // the alias, dropped by the star-modifier
    assert(rw("SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1") ==
      "SELECT * EXCEPT (__qw0) FROM (\nSELECT a, row_number() OVER (ORDER BY a) AS __qw0\nFROM t\n) __qualify_sub WHERE __qw0 = 1")
    // a named window hoists like an inline one (the WINDOW clause, if
    // any, stays in the inner select)
    assert(rw("SELECT a FROM t QUALIFY rank() OVER w = 1")
      .contains("rank() OVER w AS __qw0"))
    // forms the rewrite can't hold still raise with guidance
    intercept[IllegalArgumentException](
      rw("SELECT a FROM t QUALIFY (row_number() OVER (ORDER BY a)) = 1")) // parenthesized
    // DISTINCT lifts to the outer projection (windows see pre-distinct
    // rows — DuckDB-verified)
    assert(rw("SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1")
      .startsWith("SELECT DISTINCT * EXCEPT (__qw0) FROM ("))
    // a column merely NAMED qualify is left alone (no FROM-after, or
    // clause-keyword condition)
    intercept[IllegalArgumentException](rw("SELECT qualify FROM t"))
    intercept[IllegalArgumentException](rw("SELECT a FROM t WHERE qualify = 1")) // ambiguous → raise
  }

  // expected rows verified verbatim against DuckDB 1.0
  test("QUALIFY with inline windows runs end-to-end with DuckDB semantics") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq((1, 10.0), (1, 20.0), (2, 5.0), (2, 7.0), (1, 15.0))
      .toDF("k", "v").createOrReplaceTempView("shim_qw_t")
    def run(sql: String): Seq[(Int, Double)] =
      spark.sql(rw(sql)).collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(run("SELECT k, v FROM shim_qw_t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 ORDER BY k") ==
      Seq((1, 20.0), (2, 7.0)))
    // window referencing base columns, comparison against a column
    assert(run("SELECT k, v FROM shim_qw_t QUALIFY v > avg(v) OVER (PARTITION BY k) ORDER BY k, v") ==
      Seq((1, 20.0), (2, 7.0)))
    // two windows in one condition
    assert(run("SELECT k, v FROM shim_qw_t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1 AND rank() OVER (ORDER BY v) <= 3 ORDER BY k") ==
      Seq((1, 10.0), (2, 5.0)))
  }

  test("* EXCLUDE becomes Spark's * EXCEPT; COLUMNS raises") {
    assert(rw("SELECT * EXCLUDE (a, b) FROM t") == "SELECT * EXCEPT (a, b) FROM t")
    assert(rw("SELECT * EXCLUDE a FROM t") == "SELECT * EXCEPT (a) FROM t")
    intercept[IllegalArgumentException](rw("SELECT COLUMNS('x.*') FROM t"))
    // non-modifier uses of the same words survive
    assert(rw("SELECT exclude, columns FROM t") == "SELECT exclude, columns FROM t")
  }

  test("COLUMNS('regex') expands against the FROM table's schema") {
    val resolve: String => Option[Seq[String]] = {
      case "t" => Some(Seq("aa", "ab", "ba", "s"))
      case _   => None
    }
    def rwc(s: String) = DuckSqlShim.rewrite(s, resolve)
    // bare form: unanchored regex, DuckDB-verified ('a' matches ba too)
    assert(rwc("SELECT COLUMNS('^a') FROM t") == "SELECT `aa` AS `aa`, `ab` AS `ab`\nFROM t")
    assert(rwc("SELECT COLUMNS('a') FROM t") ==
      "SELECT `aa` AS `aa`, `ab` AS `ab`, `ba` AS `ba`\nFROM t")
    // whole-item replication, DuckDB-verified: min(COLUMNS('^a')) + 1
    // over (aa, ab, ba) -> per-column min(c) + 1 AS c
    assert(rwc("SELECT min(COLUMNS('^a')) + 1 FROM t WHERE aa > 0") ==
      "SELECT min(`aa`) + 1 AS `aa`, min(`ab`) + 1 AS `ab`\nFROM t WHERE aa > 0")
    // COLUMNS(*) = all columns; mixed with plain items; alias survives
    assert(rwc("SELECT s, COLUMNS('^b') FROM t GROUP BY s") ==
      "SELECT s, `ba` AS `ba`\nFROM t GROUP BY s")
    assert(rwc("SELECT COLUMNS(*) FROM t") ==
      "SELECT `aa` AS `aa`, `ab` AS `ab`, `ba` AS `ba`, `s` AS `s`\nFROM t")
    // * EXCLUDE inside COLUMNS (DuckDB-verified column order/set)
    assert(rwc("SELECT min(COLUMNS(* EXCLUDE (ba, s))) FROM t") ==
      "SELECT min(`aa`) AS `aa`, min(`ab`) AS `ab`\nFROM t")
    assert(rwc("SELECT COLUMNS(* EXCLUDE s) FROM t") ==
      "SELECT `aa` AS `aa`, `ab` AS `ab`, `ba` AS `ba`\nFROM t")
    intercept[IllegalArgumentException](rwc("SELECT COLUMNS(* EXCLUDE (zz)) FROM t"))
    // out-of-form cases keep the guided error
    intercept[IllegalArgumentException](rwc("SELECT COLUMNS('zzz') FROM t"))       // no match
    intercept[IllegalArgumentException](rwc("SELECT COLUMNS('^a') AS z FROM t"))  // alias
    intercept[IllegalArgumentException](rwc("SELECT COLUMNS(c -> c LIKE 'a%') FROM t"))
    intercept[IllegalArgumentException](rwc("SELECT COLUMNS('^a') FROM t JOIN u ON 1=1"))
    intercept[IllegalArgumentException](rwc("SELECT COLUMNS('^a') FROM unknown_tbl"))
    // resolver-less rewrite keeps the original behavior
    intercept[IllegalArgumentException](rw("SELECT COLUMNS('^a') FROM t"))
  }

  test("COLUMNS in WHERE folds with AND; in ORDER BY expands the key list") {
    val resolve: String => Option[Seq[String]] = {
      case "t" => Some(Seq("a1", "a2", "b"))
      case _   => None
    }
    def rwc(s: String) = DuckSqlShim.rewrite(s, resolve)
    // WHERE: the whole predicate instantiates per matched column,
    // AND-folded (DuckDB-verified)
    assert(rwc("SELECT * FROM t WHERE COLUMNS(*) IS NOT NULL") ==
      "SELECT *\nFROM t WHERE (`a1` IS NOT NULL) AND (`a2` IS NOT NULL) AND (`b` IS NOT NULL)")
    assert(rwc("SELECT * FROM t WHERE COLUMNS('^a') > 1") ==
      "SELECT *\nFROM t WHERE (`a1` > 1) AND (`a2` > 1)")
    // a mixed conjunct replicates whole (equivalent under AND-fold)
    assert(rwc("SELECT * FROM t WHERE b = 'x' AND COLUMNS('^a') > 0 ORDER BY b") ==
      "SELECT *\nFROM t WHERE (b = 'x' AND `a1` > 0) AND (b = 'x' AND `a2` > 0)\nORDER BY b")
    // ORDER BY: per-key expansion with direction modifiers riding along
    assert(rwc("SELECT * FROM t ORDER BY COLUMNS('^a') DESC NULLS LAST") ==
      "SELECT *\nFROM t ORDER BY `a1` DESC NULLS LAST, `a2` DESC NULLS LAST")
    assert(rwc("SELECT * FROM t ORDER BY b, COLUMNS('^a') DESC LIMIT 2") ==
      "SELECT *\nFROM t ORDER BY b, `a1` DESC, `a2` DESC\nLIMIT 2")
    // both clauses at once, with a select-list expansion in the mix
    assert(rwc("SELECT COLUMNS('^a') FROM t WHERE COLUMNS('^a') > 0 ORDER BY COLUMNS('^a')") ==
      "SELECT `a1` AS `a1`, `a2` AS `a2`\nFROM t WHERE (`a1` > 0) AND (`a2` > 0)\nORDER BY `a1`, `a2`")
    // end-to-end against DuckDB-1.0-verified rows
    import spark.implicits._
    Seq((Option(1), Option(2), "x"), (Option.empty[Int], Option(3), "y"),
        (Option(4), Option(5), "x"), (Option(6), Option.empty[Int], "z"))
      .toDF("a1", "a2", "b").createOrReplaceTempView("shim_colw_t")
    val live = (t: String) => scala.util.Try(spark.table(t).columns.toSeq).toOption
    val r1 = spark.sql(DuckSqlShim.rewrite(
      "SELECT * FROM shim_colw_t WHERE COLUMNS(*) IS NOT NULL", live))
      .orderBy("a1").collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(r1.toSeq == Seq((1, 2, "x"), (4, 5, "x")))
    val r2 = spark.sql(DuckSqlShim.rewrite(
      "SELECT * FROM shim_colw_t ORDER BY COLUMNS('^a') DESC NULLS LAST", live))
      .collect().map(r => (r.get(0), r.get(1)))
    assert(r2.toSeq == Seq((6, null), (4, 5), (1, 2), (null, 3)))
  }

  test("* REPLACE expands against the FROM table's schema") {
    val resolve: String => Option[Seq[String]] = {
      case "t" => Some(Seq("aa", "ab", "ba", "s"))
      case _   => None
    }
    def rwc(s: String) = DuckSqlShim.rewrite(s, resolve)
    // DuckDB-verified: all columns in order, named position computed
    assert(rwc("SELECT * REPLACE (aa + 10 AS aa) FROM t") ==
      "SELECT aa + 10 AS `aa`, `ab`, `ba`, `s`\nFROM t")
    assert(rwc("SELECT * REPLACE (aa + 10 AS aa, upper(s) AS s) FROM t") ==
      "SELECT aa + 10 AS `aa`, `ab`, `ba`, upper(s) AS `s`\nFROM t")
    // composes with EXCLUDE; qualified star; CAST's inner AS untouched
    assert(rwc("SELECT * EXCLUDE (ba) REPLACE (aa + 10 AS aa) FROM t") ==
      "SELECT aa + 10 AS `aa`, `ab`, `s`\nFROM t")
    assert(rwc("SELECT t.* REPLACE (CAST(aa AS INT) AS aa) FROM t") ==
      "SELECT CAST(aa AS INT) AS `aa`, `ab`, `ba`, `s`\nFROM t")
    // plain * and * EXCLUDE without REPLACE keep the EXCEPT rewrite;
    // the string function replace() is untouched
    assert(rwc("SELECT * EXCLUDE (ba) FROM t") == "SELECT * EXCEPT (ba) FROM t")
    assert(rwc("SELECT replace(s, 'a', 'b') FROM t") ==
      "SELECT replace(s, 'a', 'b') FROM t")
    // guided errors: unknown column; no resolver
    intercept[IllegalArgumentException](rwc("SELECT * REPLACE (aa + 1 AS zz) FROM t"))
    intercept[IllegalArgumentException](rw("SELECT * REPLACE (aa + 1 AS aa) FROM t"))
    // end-to-end
    import spark.implicits._
    Seq((1L, 2L, 3L, "x")).toDF("aa", "ab", "ba", "s")
      .createOrReplaceTempView("shim_repl_t")
    val live = (t: String) => scala.util.Try(spark.table(t).columns.toSeq).toOption
    val row = spark.sql(DuckSqlShim.rewrite(
      "SELECT * EXCLUDE (ba) REPLACE (aa + 10 AS aa, upper(s) AS s) FROM shim_repl_t",
      live)).collect().head
    assert(row.toSeq == Seq(11L, 2L, "X"))
  }

  test("COLUMNS expansion runs end-to-end on a live session") {
    import spark.implicits._
    Seq((1L, 2L, 3L, "x"), (4L, 5L, 6L, "y")).toDF("aa", "ab", "ba", "s")
      .createOrReplaceTempView("shim_cols_t")
    val resolve = (t: String) =>
      scala.util.Try(spark.table(t).columns.toSeq).toOption
    val rows = spark.sql(DuckSqlShim.rewrite(
      "SELECT min(COLUMNS('^a')) + 1 FROM shim_cols_t", resolve)).collect()
    assert(rows.head.toSeq == Seq(2L, 3L))
    assert(spark.sql(DuckSqlShim.rewrite(
      "SELECT COLUMNS('a') FROM shim_cols_t ORDER BY aa", resolve)).columns.toSeq ==
      Seq("aa", "ab", "ba"))
  }

  test("ordered string_agg becomes listagg WITHIN GROUP") {
    assert(rw("SELECT string_agg(x, ',' ORDER BY y) FROM t GROUP BY g") ==
      "SELECT listagg(x, ',') WITHIN GROUP (ORDER BY y) FROM t GROUP BY g")
    // unordered form passes through (the DuckFunctions alias handles it)
    assert(rw("SELECT string_agg(x, '-') FROM t") == "SELECT string_agg(x, '-') FROM t")
    // end-to-end
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "b"), (1L, "a"), (2L, "c")).toDF("g", "x")
      .createOrReplaceTempView("shim_agg_t")
    val rows = spark.sql(rw(
      "SELECT g, string_agg(x, ',' ORDER BY x) AS s FROM shim_agg_t GROUP BY g ORDER BY g"))
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a,b"), (2L, "c")))
  }

  test("* EXCLUDE runs end-to-end on a live session") {
    import spark.implicits._
    Seq((1L, "x", 2.0)).toDF("id", "name", "v").createOrReplaceTempView("shim_excl_t")
    assert(spark.sql(rw("SELECT * EXCLUDE (name) FROM shim_excl_t")).columns.toSeq ==
      Seq("id", "v"))
    // QUALIFY end-to-end via an aliased window
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v").createOrReplaceTempView("shim_q_t")
    val top = spark.sql(rw(
      """SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |FROM shim_q_t QUALIFY rn = 1 ORDER BY k""".stripMargin)).collect()
    assert(top.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 20.0), (2L, 5.0)))
  }

  test("QUALIFY with a named window hoists; inner select keeps the WINDOW clause") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq((1, "a"), (2, "a"), (3, "b")).toDF("k", "v").createOrReplaceTempView("qw_t")
    // DuckDB-verified: rows (1,'a') and (3,'b')
    val rows = spark.sql(rw(
      """SELECT k, v FROM qw_t
        |WINDOW w AS (PARTITION BY v ORDER BY k)
        |QUALIFY row_number() OVER w = 1 ORDER BY k""".stripMargin)).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (3, "b")))
    // the hoisted text keeps the OVER w reference inside the subquery
    val t = rw("SELECT x FROM t WINDOW w AS (ORDER BY x) QUALIFY row_number() OVER w <= 2")
    assert(t.contains("row_number() OVER w AS __qw0"))
    assert(t.contains("WINDOW w AS (ORDER BY x)"))
    assert(t.contains("WHERE __qw0 <= 2"))
    // a parenthesized window expression still raises with guidance
    intercept[IllegalArgumentException](
      rw("SELECT x FROM t QUALIFY (row_number() OVER w) = 1"))
  }

  test("QUALIFY inside CTEs and derived tables wraps per nesting level") {
    // CTE body with alias-referencing QUALIFY
    val cte = rw(
      """WITH w AS (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |FROM t QUALIFY rn = 1) SELECT k, v FROM w ORDER BY k""".stripMargin)
    assert(cte.contains("__qualify_sub WHERE rn = 1"))
    assert(!cte.toLowerCase.contains("qualify "))
    // derived table with an inline-OVER QUALIFY (window hoisted)
    val derived = rw(
      """SELECT k, v FROM (SELECT k, v FROM t
        |QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1) s
        |ORDER BY k""".stripMargin)
    assert(derived.contains("__qw0"))
    assert(!derived.toLowerCase.replace("__qualify_sub", "").contains("qualify"))
    // end-to-end, DuckDB-verified expected rows (both forms)
    import spark.implicits._
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v")
      .createOrReplaceTempView("shim_qn_t")
    val got = spark.sql(rw(
      """WITH w AS (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |FROM shim_qn_t QUALIFY rn = 1) SELECT k, v FROM w ORDER BY k""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 20.0), (2L, 5.0)))
    val got2 = spark.sql(rw(
      """SELECT k, v FROM (SELECT k, v FROM shim_qn_t
        |QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1) s
        |ORDER BY k""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got2 == Seq((1L, 20.0), (2L, 5.0)))
    // a named window inside a derived table hoists per level, keeping
    // the WINDOW clause with its select
    val nested = rw(
      "SELECT k FROM (SELECT k FROM t WINDOW z AS (ORDER BY k) QUALIFY rank() OVER z = 1) s")
    assert(nested.contains("rank() OVER z AS __qw0"))
    assert(nested.contains("WINDOW z AS (ORDER BY k)"))
  }

  test("rewrite terminates on arbitrary token soup (IllegalArgument at worst)") {
    val rnd = new scala.util.Random(3)
    val atoms = Seq("SELECT", "FROM", "t", "(", ")", "[", "]", "{", "}", "'a'",
      "::INT", "::", "//", "^", "**", "*", "list", "ORDER", "BY", "GLOB",
      "->>", "->", ",", "1", "x", "DISTINCT", "ON", "USING", "SAMPLE",
      "qualify", "over", "format", "'{}'", "similar", "to", "unpivot",
      "extract", "date_part", ":=", "struct_pack", "{'a': 1}", "[1:2]",
      "IGNORE", "NULLS", "first", "--c", "/*x*/", "\"q\"")
    var rewrote = 0
    var raised  = 0
    for (trial <- 1 to 500) {
      val s = Seq.fill(1 + rnd.nextInt(12))(atoms(rnd.nextInt(atoms.length)))
        .mkString(" ")
      try { DuckSqlShim.rewrite(s); rewrote += 1 }
      catch {
        case _: IllegalArgumentException => raised += 1
        case e: Throwable => fail(s"trial $trial crashed on <$s>: $e")
      }
    }
    assert(rewrote > 0 && rewrote + raised == 500)
  }

  test("rewrite is stable on its own output, including quoted names with operators") {
    val inputs = Seq(
      "SELECT x::BIGINT, a // b, arr[1], [1,2,3], \"my col\" FROM t",
      "SELECT \"weird::name\", \"a[1]b\" FROM \"my // table\"",
      "SELECT split(s, ',')[2]::INT AS v, 'lit::[1]//' FROM t",
      "SELECT f(x, y)::DECIMAL(10,2), arr[2:4] FROM t",
      "SELECT arr[2:], arr[:3], arr[1:8:2] FROM t",
      // round-6 forms: brace literals, map accessors, sampling, ordered
      // aggregates, fmt format, window nulls-mode, DISTINCT ON
      "SELECT {'a': 1, 'b': [1,2]}.a, MAP {'k': 1}, struct_insert(s, b := 2) FROM t",
      "SELECT * FROM t USING SAMPLE 10%",
      "SELECT list(x ORDER BY y DESC), first(x ORDER BY y) FROM t",
      "SELECT format('{} {:d}', a, b) FROM t",
      "SELECT lag(x IGNORE NULLS) OVER (ORDER BY k) FROM t",
      "SELECT DISTINCT ON (v) k FROM t ORDER BY v, k DESC",
      "SELECT 'abcdef'[2], 'abcdef'[2:4] FROM t",
      "SELECT j ->> 'k', 2 ^ 3, [x FOR x IN l IF x > 0] FROM t",
      "FROM t SELECT a WHERE b > 2",
      "UNPIVOT m ON jan, feb INTO NAME month VALUE v",
      "SELECT trim(s, 'x'), string_split(s, '.') FROM t")
    inputs.foreach { in =>
      val once = rw(in)
      assert(rw(once) == once, s"not stable for: $in ->\n  $once\n  ${rw(once)}")
    }
  }

  // ── end-to-end on a live session ───────────────────────────────────

  test("DuckDB-dialect text runs end-to-end after rewrite + registration") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "The quick brown fox"), (2L, "  hello,, world  "))
      .toDF("id", "text").createOrReplaceTempView("shim_docs")

    val duck =
      """SELECT id,
        |  (id * 7 // 2)::BIGINT AS q,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_toks,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')[1] AS first_tok,
        |  list_sum([1, 2, 3]) AS s,
        |  strpos(text, 'o') AS p
        |FROM shim_docs ORDER BY id""".stripMargin
    val rows = spark.sql(rw(duck)).collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getAs[Long]("q") == 3L)        // 7 // 2 = 3
    assert(r1.getAs[Long]("n_toks") == 4L)
    assert(r1.getAs[String]("first_tok") == "the")
    assert(r1.getAs[Long]("s") == 6L)
    assert(r1.getAs[Int]("p") == 13)         // first 'o' ("brown"), 1-based
    val r2 = rows(1)
    assert(r2.getAs[Long]("n_toks") == 2L)
    assert(r2.getAs[String]("first_tok") == "hello")
  }

  test("struct/MAP literals and map accessors run end-to-end") {
    graft.functions.DuckFunctions.register(spark)
    val r = spark.sql(rw(
      """SELECT {'a': {'b': 2}}.a.b AS nested,
        |  ({'first': 3, 'second': 4})['second'] AS by_key,
        |  {x: 9}.x AS bare,
        |  cardinality(MAP {'a': 1, 'b': 2}) AS card,
        |  map_extract(MAP {'k': 7}, 'k')[1] AS hit,
        |  len(element_at(MAP {'k': 7}, 'missing')) AS miss_len,
        |  element_at(array(5, 6), 1) AS arr_el
        |""".stripMargin)).head()
    assert(r.getAs[Int]("nested") == 2)
    assert(r.getAs[Int]("by_key") == 4)
    assert(r.getAs[Int]("bare") == 9)
    assert(r.getAs[Int]("card") == 2)
    assert(r.getAs[Int]("hit") == 7)       // DuckDB: map accessors wrap in a list
    assert(r.getAs[Long]("miss_len") == 0L) // missing key -> empty list, not [NULL]
    // the shadow must keep Spark's array indexing intact — the engine's
    // canonical projections (ThemeMeta) emit element_at(arr, 1)
    assert(r.getAs[Int]("arr_el") == 5)
  }

  test("ordered list/array_agg/first/last and fmt-style format() rewrite and execute") {
    graft.functions.DuckFunctions.register(spark)
    // text: first/last map to min_by/max_by; DESC swaps
    assert(rw("SELECT first(x ORDER BY y)") == "SELECT min_by(x, y)")
    assert(rw("SELECT first(x ORDER BY y DESC)") == "SELECT max_by(x, y)")
    assert(rw("SELECT last(x ORDER BY y)") == "SELECT max_by(x, y)")
    assert(rw("SELECT last(x ORDER BY y DESC)") == "SELECT min_by(x, y)")
    assert(rw("SELECT first(x)") == "SELECT first(x)") // unordered passes through
    intercept[IllegalArgumentException](rw("SELECT first(x ORDER BY y NULLS FIRST)"))
    // in-args IGNORE/RESPECT NULLS moves after the call (Spark syntax)
    assert(rw("SELECT lag(x IGNORE NULLS) OVER (ORDER BY k)") ==
      "SELECT lag(x) IGNORE NULLS OVER (ORDER BY k)")
    assert(rw("SELECT last_value(x RESPECT NULLS) OVER (ORDER BY k)") ==
      "SELECT last_value(x) RESPECT NULLS OVER (ORDER BY k)")
    assert(rw("SELECT first(x IGNORE NULLS) OVER (ORDER BY k)") ==
      "SELECT first(x) IGNORE NULLS OVER (ORDER BY k)")
    assert(rw("SELECT lead(x, 2 IGNORE NULLS) OVER (ORDER BY k)") ==
      "SELECT lead(x, 2) IGNORE NULLS OVER (ORDER BY k)")
    // execution against DuckDB-verified expectations
    import spark.implicits._
    Seq((1, Option(3), "c"), (2, Option.empty[Int], "a"), (3, Option(1), "b"))
      .toDF("x", "y", "z").createOrReplaceTempView("ord_t")
    val r = spark.sql(rw(
      """SELECT list(x ORDER BY y) AS asc_l,
        |  list(x ORDER BY y DESC) AS desc_l,
        |  list(x ORDER BY y DESC NULLS FIRST) AS nf_l,
        |  list(x ORDER BY y, z DESC) AS multi_l,
        |  array_agg(z ORDER BY x DESC) AS za,
        |  first(x ORDER BY y) AS f,
        |  last(x ORDER BY y DESC) AS lst
        |FROM ord_t""".stripMargin)).head()
    // DuckDB: NULLS LAST in both directions by default
    assert(r.getSeq[Int](0) == Seq(3, 1, 2))
    assert(r.getSeq[Int](1) == Seq(1, 3, 2))
    assert(r.getSeq[Int](2) == Seq(2, 1, 3))
    assert(r.getSeq[Int](3) == Seq(3, 1, 2))
    assert(r.getSeq[String](4) == Seq("b", "a", "c"))
    assert(r.getInt(5) == 3)
    assert(r.getInt(6) == 3)
    // list keeps NULL values (collect_list would drop them)
    val withNull = spark.sql(rw(
      "SELECT list(y ORDER BY x) AS l FROM ord_t")).head().getSeq[Any](0)
    assert(withNull == Seq(3, null, 1))
    // format(): {} / {N} / specs; NULL argument -> NULL result
    val f = spark.sql(rw(
      """SELECT format('{} and {}', 1, 'x') AS a,
        |  format('{0}-{1}-{0}', 'a', 'b') AS b,
        |  format('100%: {:d}!', 42) AS c,
        |  format('{{}} literal {:.2f}', 3.14159) AS d,
        |  format('{}', NULL) AS e
        |""".stripMargin)).head()
    assert(f.getString(0) == "1 and x")
    assert(f.getString(1) == "a-b-a")
    assert(f.getString(2) == "100%: 42!")
    assert(f.getString(3) == "{} literal 3.14")
    assert(f.isNullAt(4))
    intercept[IllegalArgumentException](rw("SELECT format(fmt_col, 1)"))
  }

  test("USING SAMPLE becomes TABLESAMPLE; DISTINCT list forms dedup") {
    graft.functions.DuckFunctions.register(spark)
    assert(rw("SELECT * FROM t USING SAMPLE 10") ==
      "SELECT * FROM t TABLESAMPLE (10 ROWS)")
    assert(rw("SELECT * FROM t USING SAMPLE 10%") ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(rw("SELECT * FROM t USING SAMPLE 10 PERCENT (bernoulli)") ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(rw("SELECT * FROM t USING SAMPLE reservoir(5%)") ==
      "SELECT * FROM t TABLESAMPLE (5 PERCENT)")
    assert(rw("SELECT * FROM t USING SAMPLE 20 ROWS WHERE x > 0") ==
      "SELECT * FROM t TABLESAMPLE (20 ROWS) WHERE x > 0")
    // JOIN ... USING (cols) is untouched; seeds raise (not portable)
    assert(rw("SELECT a FROM t JOIN u USING (id)") ==
      "SELECT a FROM t JOIN u USING (id)")
    intercept[IllegalArgumentException](
      rw("SELECT * FROM t USING SAMPLE 10% (bernoulli, 42)"))
    // ASOF JOIN points at the engine operator
    val asofErr = intercept[IllegalArgumentException](
      rw("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t"))
    assert(asofErr.getMessage.contains("AsofJoin.asof"))
    // sampled scan executes (row count bounded, exact count is random)
    import spark.implicits._
    (1 to 100).toDF("x").createOrReplaceTempView("samp_t")
    val c = spark.sql(rw("SELECT count(*) AS c FROM samp_t USING SAMPLE 10"))
      .head().getLong(0)
    assert(c == 10L)
    // DISTINCT inside list/array_agg: dedup keeping DuckDB semantics
    // (NULL kept; ordered form dedups after the sort)
    val dl = spark.sql(rw(
      "SELECT array_to_string(list(DISTINCT x ORDER BY x), ',') AS d " +
        "FROM (VALUES (2),(1),(2)) t(x)")).head().getString(0)
    assert(dl == "1,2")
    val dn = spark.sql(rw(
      "SELECT len(list(DISTINCT x)) AS n FROM (VALUES (2),(1),(2),(NULL)) t(x)"))
      .head().getLong(0)
    assert(dn == 3L)
  }

  test("FROM-first statements and the 2-arg trim family") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq((1, 2), (3, 4)).toDF("a", "b").createOrReplaceTempView("ff_t")
    assert(rw("FROM ff_t") == "SELECT * FROM ff_t")
    assert(rw("FROM ff_t SELECT a") == "SELECT a FROM ff_t")
    assert(rw("FROM ff_t SELECT a WHERE b > 2") == "SELECT a FROM ff_t WHERE b > 2")
    assert(rw("FROM ff_t WHERE b > 2") == "SELECT * FROM ff_t WHERE b > 2")
    assert(spark.sql(rw("FROM ff_t SELECT a + 1 AS x WHERE b > 2")).head().getInt(0) == 4)
    // FROM-first inside a derived table rewrites at its nesting level
    val sub = spark.sql(rw("SELECT * FROM (FROM ff_t WHERE a = 1) s")).head()
    assert((sub.getInt(0), sub.getInt(1)) == (1, 2))
    val r = spark.sql(rw(
      "SELECT trim('xxhixx', 'x') AS a, ltrim('xxhi', 'x') AS b, " +
        "rtrim('hixx', 'x') AS c, trim('  hi  ') AS d")).head()
    assert(r.getString(0) == "hi" && r.getString(1) == "hi" &&
      r.getString(2) == "hi" && r.getString(3) == "hi")
  }

  test("statement-form PIVOT rewrites to the standard clause (static IN form)") {
    import spark.implicits._
    Seq(("en", "a", 1L), ("en", "b", 2L), ("fr", "a", 3L), ("de", "a", 4L))
      .toDF("lang", "src", "n").createOrReplaceTempView("shim_pv_t")
    val resolve: String => Option[Seq[String]] = {
      case "shim_pv_t" => Some(Seq("lang", "src", "n"))
      case _           => None
    }
    // no GROUP BY: both engines group by all unconsumed columns —
    // the table passes through unprojected
    assert(rw("PIVOT shim_pv_t ON lang IN ('en','fr') USING sum(n)") ==
      "SELECT * FROM shim_pv_t PIVOT (sum(n) FOR lang IN ('en' AS `en`, 'fr' AS `fr`))")
    // GROUP BY narrows the grouping set, so the source re-projects
    // down to (groups, pivot col, agg inputs) using the schema
    val g = DuckSqlShim.rewrite(
      "PIVOT shim_pv_t ON lang IN ('en','fr') USING sum(n) GROUP BY src", resolve)
    assert(g.contains("(SELECT src, lang, n FROM shim_pv_t)"), g)
    // DuckDB-verified values: en/fr sums per src, missing cell NULL
    val got = spark.sql(g).orderBy("src").collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(got == Seq(("a", Some(1L), Some(3L)), ("b", Some(2L), None)))
    // aliased + multiple aggregates name value_alias as DuckDB does
    val m = spark.sql(DuckSqlShim.rewrite(
      "PIVOT shim_pv_t ON lang IN ('en','fr') USING sum(n) AS s, max(n) AS m GROUP BY src",
      resolve))
    assert(m.columns.toSeq == Seq("src", "en_s", "en_m", "fr_s", "fr_m"))
    // missing USING defaults to count(*) (DuckDB-verified: 1/1, 1/0)
    val cnt = spark.sql(DuckSqlShim.rewrite(
      "PIVOT shim_pv_t ON lang IN ('en','fr') GROUP BY src", resolve))
      .orderBy("src").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(cnt.toSeq == Seq(("a", 1L, 1L), ("b", 1L, 0L)))
    // ORDER BY / LIMIT tails carry over
    val tl = spark.sql(DuckSqlShim.rewrite(
      "PIVOT shim_pv_t ON lang IN ('en','fr') USING sum(n) GROUP BY src ORDER BY src LIMIT 1",
      resolve)).collect()
    assert(tl.length == 1 && tl.head.getString(0) == "a")
    // guided errors: dynamic form (no IN), multi-agg without aliases,
    // GROUP BY without schema access
    val e1 = intercept[IllegalArgumentException](
      rw("PIVOT shim_pv_t ON lang USING sum(n)"))
    assert(e1.getMessage.contains("IN"))
    val e2 = intercept[IllegalArgumentException](
      rw("PIVOT shim_pv_t ON lang IN ('en') USING sum(n), max(n)"))
    assert(e2.getMessage.toLowerCase.contains("alias"))
    val e3 = intercept[IllegalArgumentException](
      rw("PIVOT shim_pv_t ON lang IN ('en') USING sum(n) GROUP BY src"))
    assert(e3.getMessage.contains("schema"))
  }

  test("dynamic PIVOT (no IN list) through the data-aware resolver") {
    import spark.implicits._
    val g = new graft.Graft(spark,
      java.nio.file.Files.createTempDirectory("shim_dynpv").toString)
    // string pivot column; NULL pivot values are excluded, columns
    // come out sorted by value (all DuckDB-1.0-verified)
    Seq(("x", Option("b"), 1), ("x", Option("a"), 2), ("y", Option("a"), 3),
        ("y", Option.empty[String], 4), ("x", Option("c"), 5))
      .toDF("g", "c", "v").createOrReplaceTempView("dynpv_t")
    val r1 = g.duckSql("PIVOT dynpv_t ON c USING sum(v)")
    assert(r1.columns.toSeq == Seq("g", "a", "b", "c"))
    val rows1 = r1.orderBy("g").collect()
      .map(r => (r.getString(0), r.get(1), r.get(2), r.get(3)))
    assert(rows1.toSeq == Seq(("x", 2L, 1L, 5L), ("y", 3L, null, null)))
    // integer pivot column: DuckDB orders and names columns by the
    // STRING form of the value ('10' sorts before '2')
    Seq(("x", 10, 1), ("x", 2, 2), ("y", 2, 3)).toDF("g", "k", "v")
      .createOrReplaceTempView("dynpv_t2")
    val r2 = g.duckSql("PIVOT dynpv_t2 ON k USING sum(v)")
    assert(r2.columns.toSeq == Seq("g", "10", "2"))
    assert(r2.orderBy("g").collect().map(r => (r.getString(0), r.get(1), r.get(2)))
      .toSeq == Seq(("x", 1L, 2L), ("y", null, 3L)))
    // GROUP BY narrowing + tail carry-over on the dynamic path
    val r3 = g.duckSql("PIVOT dynpv_t ON c USING sum(v) GROUP BY g ORDER BY g LIMIT 1")
      .collect()
    assert(r3.length == 1 && r3.head.getString(0) == "x" && r3.head.getLong(1) == 2L)
    // default USING is count(*) with zero-fill; unconsumed columns
    // stay implicit group keys (DuckDB semantics)
    val r4 = g.duckSql("PIVOT dynpv_t ON c")
    assert(r4.columns.toSeq == Seq("g", "v", "a", "b", "c"))
    val n4 = r4.orderBy("g", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(n4.toSeq == Seq(("x", 1, 0L, 1L, 0L), ("x", 2, 1L, 0L, 0L),
      ("x", 5, 0L, 0L, 1L), ("y", 3, 1L, 0L, 0L), ("y", 4, 0L, 0L, 0L)))
    // a value list wider than the cap raises the guided error
    (1 to DuckSqlShim.MaxDynamicPivotValues + 1).map(i => (f"k$i%05d", 1))
      .toDF("c", "v").createOrReplaceTempView("dynpv_wide")
    val e = intercept[IllegalArgumentException](
      g.duckSql("PIVOT dynpv_wide ON c USING sum(v)"))
    assert(e.getMessage.contains("distinct values"))
  }

  test("statement-form UNPIVOT rewrites to the standard clause; dynamic PIVOT raises") {
    import spark.implicits._
    assert(rw("UNPIVOT m ON jan, feb INTO NAME month VALUE v") ==
      "SELECT * FROM m UNPIVOT (v FOR month IN (jan, feb))")
    assert(rw("UNPIVOT m ON jan, feb INTO NAME month VALUE v ORDER BY month") ==
      "SELECT * FROM m UNPIVOT (v FOR month IN (jan, feb)) ORDER BY month")
    // execution, DuckDB-verified values
    Seq((1, 10, 20), (2, 30, 40)).toDF("id", "jan", "feb")
      .createOrReplaceTempView("unp_m")
    val rows = spark.sql(rw("UNPIVOT unp_m ON jan, feb INTO NAME month VALUE v"))
      .orderBy("id", "month").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1, "feb", 20), (1, "jan", 10), (2, "feb", 40), (2, "jan", 30)))
    // the SQL-standard form passes through (both engines accept it)
    assert(rw("SELECT * FROM m UNPIVOT (v FOR month IN (jan, feb))") ==
      "SELECT * FROM m UNPIVOT (v FOR month IN (jan, feb))")
    // dynamic PIVOT (no IN list) still raises with guidance — the
    // static IN form rewrites (see the PIVOT test above)
    val e = intercept[IllegalArgumentException](rw("PIVOT m ON id USING sum(jan)"))
    assert(e.getMessage.contains("IN"))
  }

  test("power operator, list comprehensions, SIMILAR TO") {
    graft.functions.DuckFunctions.register(spark)
    // ^ / ** are POWER in DuckDB (Spark ^ is XOR — silent wrong answer)
    assert(rw("SELECT 2 ^ 3") == "SELECT power(2, 3)")
    assert(rw("SELECT 2 ** 3") == "SELECT power(2, 3)")
    assert(rw("SELECT 2 ^ 3 ^ 2") == "SELECT power(power(2, 3), 2)") // left-assoc
    assert(rw("SELECT -2 ^ 2") == "SELECT power(-2, 2)")   // unary minus binds tighter
    assert(rw("SELECT x - 2 ^ 2") == "SELECT x - power(2, 2)") // binary minus does not
    assert(rw("SELECT 3 + 2 ^ 2 * 2") == "SELECT 3 + power(2, 2) * 2") // tighter than *
    assert(rw("SELECT f(x, 1) ^ 2") == "SELECT power(f(x, 1), 2)")
    // comprehensions
    assert(rw("SELECT [x * 2 FOR x IN [1,2,3]]") ==
      "SELECT transform(array(1,2,3), x -> x * 2)")
    assert(rw("SELECT [x FOR x IN l IF x > 0]") ==
      "SELECT transform(filter(l, x -> x > 0), x -> x)")
    // SIMILAR TO is a full-match regex
    assert(rw("SELECT s SIMILAR TO 'ab.'") == "SELECT regexp_full_match(s, 'ab.')")
    assert(rw("SELECT s NOT SIMILAR TO 'ab.'") ==
      "SELECT NOT regexp_full_match(s, 'ab.')")
    // execution (DuckDB-verified values)
    val r = spark.sql(rw(
      """SELECT 2 ^ 3 AS p, -2 ^ 2 AS up, 2 ^ -1 AS inv,
        |  array_to_string([x FOR x IN [1,2,3,4] IF x % 2 = 0], ',') AS comp,
        |  'abc' SIMILAR TO 'ab.' AS m1, 'abc' SIMILAR TO 'ab' AS m2,
        |  xor(5, 3) AS x""".stripMargin)).head()
    assert(r.getDouble(0) == 8.0)
    assert(r.getDouble(1) == 4.0)
    assert(r.getDouble(2) == 0.5)
    assert(r.getString(3) == "2,4")
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getInt(6) == 6)
  }

  test("GLOB translates to an anchored regex; trailing NOT negates") {
    graft.functions.DuckFunctions.register(spark)
    assert(rw("SELECT s GLOB 'a*c'") == "SELECT regexp_full_match(s, 'a.*c')")
    // infix NOT (a graceful superset — DuckDB's own parser rejects it)
    // must wrap as a negation, not split the operand mid-expression
    assert(rw("SELECT s NOT GLOB 'a*c'") ==
      "SELECT NOT regexp_full_match(s, 'a.*c')")
    assert(rw("SELECT x FROM t WHERE nm NOT GLOB '*z'") ==
      "SELECT x FROM t WHERE NOT regexp_full_match(nm, '.*z')")
    // prefix NOT keeps working (the operand is the atom after NOT)
    assert(rw("SELECT NOT s GLOB 'a?'") == "SELECT NOT regexp_full_match(s, 'a.')")
    val r = spark.sql(rw(
      """SELECT 'abc' GLOB 'a*' AS g1, 'abc' NOT GLOB 'a*' AS n1,
        |  'xbc' NOT GLOB 'a*' AS n2, NOT 'abc' GLOB 'a?c' AS n3""".stripMargin)).head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) && !r.getBoolean(3))
  }

  test("DISTINCT ON rewrites to the row_number idiom") {
    import spark.implicits._
    Seq((1, "a"), (2, "a"), (3, "b")).toDF("k", "v").createOrReplaceTempView("don_t")
    // DuckDB-verified expectations
    val r1 = spark.sql(rw("SELECT DISTINCT ON (v) k FROM don_t ORDER BY v, k DESC"))
      .collect().map(_.getInt(0)).toSeq
    assert(r1 == Seq(2, 3))
    val r2 = spark.sql(rw("SELECT DISTINCT ON (v) * FROM don_t ORDER BY v, k DESC"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(r2 == Seq((2, "a"), (3, "b")))
    val r3 = spark.sql(rw(
      "SELECT DISTINCT ON (v) k+10 AS kk FROM don_t ORDER BY v, k DESC LIMIT 1"))
      .head().getInt(0)
    assert(r3 == 12)
    // without ORDER BY the surviving row is arbitrary — count only
    assert(spark.sql(rw("SELECT DISTINCT ON (v) k FROM don_t")).count() == 2)
    // combined with QUALIFY raises with guidance
    intercept[IllegalArgumentException](rw(
      "SELECT DISTINCT ON (v) k FROM don_t QUALIFY row_number() OVER (ORDER BY k) = 1"))
    // plain DISTINCT and innocent column names are untouched
    assert(rw("SELECT DISTINCT only_col FROM t") == "SELECT DISTINCT only_col FROM t")
    assert(rw("SELECT distinctive_col FROM t") == "SELECT distinctive_col FROM t")
  }

  test("ordered-collect comparator agrees with a reference sort across key combos") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def cmpOpt(a: Option[Int], b: Option[Int], desc: Boolean, nullsFirst: Boolean): Int =
      (a, b) match {
        case (None, None)       => 0
        case (None, _)          => if (nullsFirst) -1 else 1
        case (_, None)          => if (nullsFirst) 1 else -1
        case (Some(x), Some(y)) => if (desc) y.compare(x) else x.compare(y)
      }
    for (trial <- 1 to 10) {
      val n = 1 + rnd.nextInt(25)
      // v is unique so the final tiebreak key makes the expected order total
      val rows = (0 until n).map { ix =>
        (if (rnd.nextInt(4) == 0) Option.empty[Int] else Some(rnd.nextInt(5)),
         if (rnd.nextInt(4) == 0) Option.empty[Int] else Some(rnd.nextInt(4)),
         ix)
      }
      val desc1 = rnd.nextBoolean(); val nf1 = rnd.nextBoolean()
      val desc2 = rnd.nextBoolean()
      rows.toDF("k1", "k2", "v").createOrReplaceTempView("oc_t")
      val spec = s"k1 ${if (desc1) "DESC" else "ASC"} " +
        s"${if (nf1) "NULLS FIRST" else "NULLS LAST"}, " +
        s"k2 ${if (desc2) "DESC" else "ASC"}, v"
      val got = spark.sql(rw(s"SELECT list(v ORDER BY $spec) AS l FROM oc_t"))
        .head().getSeq[Int](0)
      val expected = rows.sortWith { (a, b) =>
        val c1 = cmpOpt(a._1, b._1, desc1, nf1)
        val c2 = if (c1 != 0) c1 else cmpOpt(a._2, b._2, desc2, nullsFirst = false)
        (if (c2 != 0) c2 else a._3.compare(b._3)) < 0
      }.map(_._3)
      assert(got == expected, s"trial $trial: ORDER BY $spec over $rows")
    }
  }

  test("product and quantile_disc aggregates match DuckDB") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq(2, 3, 4).toDF("x").createOrReplaceTempView("pq_t")
    val p = spark.sql("SELECT product(x) AS p FROM pq_t").head().getDouble(0)
    assert(p == 24.0)
    // NULLs skipped; all-NULL -> NULL; signed zero multiplies through
    Seq(Option(2), None, Option(4)).toDF("x").createOrReplaceTempView("pq_n")
    assert(spark.sql("SELECT product(x) FROM pq_n").head().getDouble(0) == 8.0)
    Seq(Option.empty[Int]).toDF("x").createOrReplaceTempView("pq_all_null")
    assert(spark.sql("SELECT product(x) FROM pq_all_null").head().isNullAt(0))
    Seq(2, -3, 0).toDF("x").createOrReplaceTempView("pq_z")
    assert(spark.sql("SELECT product(x) FROM pq_z").head().getDouble(0)
      .compareTo(-0.0) == 0)
    // quantile_disc: element at max(ceil(q*n), 1), verified at the
    // 0.33/0.34 boundary for n=3 against DuckDB 1.0
    Seq(10, 20, 30).toDF("x").createOrReplaceTempView("q_t")
    def qd(q: String): Int =
      spark.sql(s"SELECT quantile_disc(x, $q) FROM q_t").head().getInt(0)
    assert(qd("0.33") == 10)
    assert(qd("0.34") == 20)
    assert(qd("0.0") == 10)
    assert(qd("1.0") == 30)
    assert(qd("1.0/3") == 10) // expression q
    // grouped + string-typed input through the quantile alias
    Seq(("a", 1), ("a", 2), ("a", 3), ("b", 5)).toDF("g", "x")
      .createOrReplaceTempView("q_g")
    val rows = spark.sql(
      "SELECT g, quantile(x, 0.5) AS m FROM q_g GROUP BY g ORDER BY g").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(2, 5))
  }

  test("epoch_us / 1-arg make_timestamp round-trip; 6-arg form still works") {
    graft.functions.DuckFunctions.register(spark)
    val us = spark.sql("SELECT epoch_us(make_timestamp(1700000000000000)) AS us")
      .head().getAs[Long]("us")
    assert(us == 1700000000000000L)
    // session tz is UTC; TIMESTAMP surfaces as java.sql.Timestamp
    val t = spark.sql("SELECT make_timestamp(2024, 3, 1, 12, 30, 0) AS t")
      .head().getTimestamp(0).toInstant
    assert(t == java.time.Instant.parse("2024-03-01T12:30:00Z"))
  }

  test("generate_series, unnest, list aliases, len on strings and arrays") {
    graft.functions.DuckFunctions.register(spark)
    val n = spark.sql(
      rw("SELECT len(list_distinct(list_concat([1,2], [2,3]))) AS n")).head().getAs[Long]("n")
    assert(n == 3L)
    val strLen = spark.sql("SELECT len('hello') AS n").head().getAs[Long]("n")
    assert(strLen == 5L)
    val total = spark.sql(
      "SELECT list_sum(list_transform(generate_series(1, 4), x -> x * x)) AS s")
      .head().getAs[Long]("s")
    assert(total == 30L)
    val exploded = spark.sql(rw("SELECT unnest([10, 20, 30]) AS v")).collect().map(_.getInt(0))
    assert(exploded.toSeq == Seq(10, 20, 30))
  }

  test("extended list surface: aggregates, to_string, position, append/prepend") {
    graft.functions.DuckFunctions.register(spark)
    val r = spark.sql(rw(
      """SELECT list_aggregate([3,1,2], 'min') AS mn,
        |  list_aggregate([3,1,2], 'max') AS mx,
        |  list_aggregate([3,1,2], 'sum') AS sm,
        |  list_min([5,4]) AS m2, list_max([5,4]) AS m3,
        |  array_to_string([1,2,3], '-') AS s,
        |  list_position([10,20,30], 20) AS p,
        |  list_position([10,20,30], 99) AS p0,
        |  list_append([1,2], 3) AS ap,
        |  list_prepend(0, [1,2]) AS pp,
        |  list_reverse([1,2,3]) AS rv""".stripMargin)).head()
    assert(r.getAs[Int]("mn") == 1 && r.getAs[Int]("mx") == 3)
    assert(r.getAs[Long]("sm") == 6L)
    assert(r.getAs[Int]("m2") == 4 && r.getAs[Int]("m3") == 5)
    assert(r.getAs[String]("s") == "1-2-3")
    assert(r.getAs[Long]("p") == 2L)
    assert(r.getAs[Long]("p0") == 0L) // DuckDB 1.0: 0 when absent (fixture-verified)
    assert(r.getSeq[Int](r.fieldIndex("ap")) == Seq(1, 2, 3))
    assert(r.getSeq[Int](r.fieldIndex("pp")) == Seq(0, 1, 2))
    assert(r.getSeq[Int](r.fieldIndex("rv")) == Seq(3, 2, 1))
  }

  test("subscripts preserve DuckDB NULL-on-out-of-range, including index 0") {
    graft.functions.DuckFunctions.register(spark)
    val v = spark.sql(rw("SELECT [1,2][5] AS v, [1,2][0] AS z, [1,2][-1] AS m")).head()
    assert(v.isNullAt(0))
    assert(v.isNullAt(1)) // Spark's try_element_at raises on 0; ours must not
    assert(v.getInt(2) == 2)
  }

  test("PipelineSession accepts a duckdb-dialect override") {
    graft.functions.DuckFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .createOrReplaceTempView("shim_session_t")
    val sess = new graft.runtime.PipelineSession(spark)
    sess.sqlDialect = "duckdb"
    sess.update(sqlOverride = Some("SELECT id, name FROM shim_session_t WHERE (id // 2)::INT = 1"))
    val df = sess.executeNow().get
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
    sess.close()
  }
}
