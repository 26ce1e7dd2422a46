package graft.compile

/** Mechanical DuckDB → Spark SQL rewriter for the syntax-level dialect
  * deltas cataloged in docs/sql-dialect.md, so a reference-session
  * `sqlOverride` (reference: src/lib/pipelineRunner.js:73 — users edit
  * and re-run DuckDB SQL verbatim) runs unmodified.
  *
  * Division of labor: function-NAME deltas (`list_filter`, `epoch_us`,
  * `len`, ...) are session-registered by
  * [[graft.functions.DuckFunctions]] and need no text rewriting; this
  * shim handles only constructs Spark's parser cannot accept:
  *
  *  - `expr::TYPE` casts            → `CAST(expr AS TYPE)`
  *  - `a // b` integer division     → `a div b`
  *  - `"quoted identifiers"`        → `` `backticks` ``
  *  - `arr[i]` 1-based subscripts   → `list_extract(arr, i)`
  *    (DuckFunctions: 1-based, NULL on out-of-range INCLUDING index
  *    0, which Spark's own try_element_at rejects)
  *  - `arr[a:b[:step]]` slices      → `list_slice(arr, a, b[, step])`
  *    (omitted bounds → 1 / -1 = list boundary; DuckFunctions
  *    supplies the DuckDB clamp/negative-index/step semantics)
  *  - bare `[...]` list literals    → `array(...)`
  *  - `{'k': v, ...}` struct literals → `named_struct('k', v, ...)`
  *    (bare/quoted keys normalized; `.field` access is shared syntax)
  *  - `MAP {k: v, ...}` map literals  → `map(k, v, ...)` (expression
  *    keys allowed, as DuckDB's)
  *  - `expr['name']` string subscripts → `struct_extract(expr, 'name')`
  *    (a string subscript can only target a struct or map — on a MAP
  *    the Spark result is the bare value where DuckDB 1.0 wraps it in
  *    a list; documented delta)
  *  - `QUALIFY cond` (any nesting)  → subquery wrap with outer WHERE,
  *    applied per subquery level innermost-first (alias-referencing
  *    conditions directly; inline-OVER conditions hoisted)
  *  - `* EXCLUDE cols`              → `* EXCEPT (cols)` (Spark 4)
  *  - `COLUMNS('regex')` / `COLUMNS(*)` in the top-level SELECT list,
  *    WHERE and ORDER BY → expanded against the FROM table's schema
  *    when the caller supplies a resolver ([[graft.Graft.duckSql]]
  *    does); each select item containing the call is replicated per
  *    matching column, aliased to the source column name; a WHERE
  *    predicate AND-folds its per-column copies; an ORDER BY key
  *    expands in place with its direction modifiers — DuckDB's own
  *    expansion rules (GROUP BY/HAVING reject COLUMNS in DuckDB too).
  *    Forms with no resolvable single-table FROM or lambda arguments
  *    raise with a pointer to the doc.
  *  - dynamic statement-form `PIVOT t ON col` (no IN list) → the
  *    pivoted values are enumerated from the data when the caller
  *    supplies a distinct-values resolver ([[graft.Graft.duckSql]]
  *    does): distinct non-NULL values, ordered and named by their
  *    string form, capped at [[MaxDynamicPivotValues]] — DuckDB's own
  *    dynamic-pivot binding rule.
  *
  * The rewriter is a single-pass tokenizer (string literals, quoted
  * identifiers and comments pass through untouched), not a SQL parser:
  * it is intentionally limited to local, unambiguous rewrites — the
  * same contract the dialect doc gives human porters.
  */
object DuckSqlShim {

  /** Keywords that can precede `[` without being a subscript operand —
    * `SELECT [1,2]` is a list literal, not a subscript of "SELECT".
    */
  private val NonOperandKeywords = Set(
    "select", "from", "where", "and", "or", "not", "in", "as", "on", "by",
    "group", "order", "having", "limit", "offset", "join", "left", "right",
    "full", "inner", "outer", "cross", "union", "all", "distinct", "when",
    "then", "else", "end", "case", "between", "like", "ilike", "is", "null",
    "values", "exists", "any", "some", "interval", "using", "with", "return",
    "returning", "array")

  def rewrite(sql: String): String =
    rewriteTokens(rewriteQualifyDeep(rewritePivot(rewriteUnpivot(sql), None, None)))

  /** DuckDB's statement-form `UNPIVOT t ON c1, c2 INTO NAME n VALUE v
    * [tail]` → the SQL-standard `SELECT * FROM t UNPIVOT (v FOR n IN
    * (c1, c2)) [tail]`, which both engines accept (NULL values
    * excluded by default in both). The statement-form `PIVOT` cannot
    * be mechanically rewritten — DuckDB infers the pivoted value list
    * from the DATA, Spark requires it in the syntax — so it raises
    * with guidance.
    */
  private def rewriteUnpivot(sql: String): String = {
    val t = sql.trim
    def firstWord(s: String): String = s.takeWhile(c => c.isLetterOrDigit || c == '_')
    val fw = firstWord(t).toLowerCase
    if (fw != "unpivot") return sql
    var i = "unpivot".length
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    def word(): String = {
      val s = i
      if (i < t.length && t.charAt(i) == '"') { i = closeQuoted(t, i); t.substring(s, i) }
      else {
        while (i < t.length && (t.charAt(i).isLetterOrDigit || t.charAt(i) == '_' ||
          t.charAt(i) == '.')) i += 1
        t.substring(s, i)
      }
    }
    skipWs()
    val table = word()
    skipWs()
    if (!word().equalsIgnoreCase("on"))
      fail("UNPIVOT without ON", "the form is UNPIVOT t ON cols INTO NAME n VALUE v")
    val intoPos = findTopLevelWord(t, i, Set("into"))
    if (intoPos < 0)
      fail("UNPIVOT without INTO NAME/VALUE",
        "the form is UNPIVOT t ON cols INTO NAME n VALUE v")
    val cols = t.substring(i, intoPos).trim
    i = intoPos + "into".length
    skipWs()
    if (!word().equalsIgnoreCase("name"))
      fail("UNPIVOT INTO without NAME", "the form is INTO NAME n VALUE v")
    skipWs()
    val nameCol = word()
    skipWs()
    if (!word().equalsIgnoreCase("value"))
      fail("UNPIVOT INTO without VALUE", "the form is INTO NAME n VALUE v")
    skipWs()
    val valueCol = word()
    val tail = t.substring(i).trim
    s"SELECT * FROM $table UNPIVOT ($valueCol FOR $nameCol IN ($cols))" +
      (if (tail.isEmpty) "" else s" $tail")
  }

  /** DuckDB's statement-form `PIVOT tbl ON col IN (v…) [USING agg…]
    * [GROUP BY g…] [tail]` → the SQL-standard PIVOT clause both
    * engines accept. Only the static form translates — without an IN
    * list DuckDB infers the pivoted values from DATA, which no
    * mechanical rewrite can know — and the output column names match
    * DuckDB's (engine-verified): value alone for a single unaliased
    * aggregate, `value_alias` with aliases, so multi-aggregate pivots
    * require aliases (DuckDB's unaliased `en_sum(n)` names are not
    * reproducible in Spark). A GROUP BY narrows the implicit grouping
    * set, which needs the table's schema to re-project — available
    * only on the resolver [[rewrite]] overload; missing USING
    * defaults to count(*) as in DuckDB.
    */
  private def rewritePivot(sql: String,
      resolve: Option[String => Option[Seq[String]]],
      values: Option[(String, String) => Option[Seq[(String, String)]]]): String = {
    val t = sql.trim
    def firstWord(s: String): String = s.takeWhile(c => c.isLetterOrDigit || c == '_')
    if (!firstWord(t).equalsIgnoreCase("pivot")) return sql
    var i = "pivot".length
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    def word(): String = {
      val s = i
      if (i < t.length && t.charAt(i) == '"') { i = closeQuoted(t, i); t.substring(s, i) }
      else {
        while (i < t.length && (t.charAt(i).isLetterOrDigit || t.charAt(i) == '_' ||
          t.charAt(i) == '.')) i += 1
        t.substring(s, i)
      }
    }
    skipWs()
    val table =
      if (i < t.length && t.charAt(i) == '(') {
        val e = closeDelim(t, i, '(', ')'); val s = t.substring(i, e); i = e; s
      } else word()
    skipWs()
    if (!word().equalsIgnoreCase("on"))
      fail("PIVOT without ON",
        "the form is PIVOT t ON col IN (v1, ...) USING agg [GROUP BY cols]")
    skipWs()
    val onStart = i
    val stopPos0 = findTopLevelWord(t, i,
      Set("in", "using", "group", "order", "limit", "offset", "having", "qualify"))
    val stopPos  = if (stopPos0 < 0) t.length else stopPos0
    val isStatic = stopPos < t.length && t.substring(stopPos).toLowerCase.startsWith("in")
    val pc = t.substring(onStart, stopPos).trim
    if (!pc.forall(c => c.isLetterOrDigit || c == '_' || c == '.' || c == '"' || c == '`'))
      fail(s"PIVOT ON expression '$pc'",
        "only a plain column pivots mechanically — project the expression " +
          "to a column first")
    val vals: Seq[String] =
      if (isStatic) {
        i = stopPos + 2
        skipWs()
        if (i >= t.length || t.charAt(i) != '(')
          fail("PIVOT IN without a parenthesized value list", "write IN (v1, v2, ...)")
        val inEnd = closeDelim(t, i, '(', ')')
        val vs = splitTopLevel(t.substring(i + 1, inEnd - 1)).map(_.trim)
        i = inEnd
        vs
      } else {
        // dynamic PIVOT: DuckDB enumerates the column's distinct
        // non-NULL values, lexicographically by their string form,
        // and names the output columns after them (engine-verified);
        // reproducing that needs DATA access, available only on the
        // distinctValues rewrite overload
        val vr = values.getOrElse(
          fail("dynamic PIVOT (no IN value list)",
            "DuckDB infers the pivoted values from data — use Graft.duckSql " +
              "(data-aware) or add IN (v1, v2, ...) after the ON column"))
        val pairs = vr(table, pc).getOrElse(
          fail(s"dynamic PIVOT over unresolvable source '$table'",
            "the value probe (SELECT DISTINCT) failed — check the source " +
              "and column, or add an explicit IN (v1, v2, ...) list"))
        if (pairs.isEmpty)
          fail("dynamic PIVOT over a source with no non-NULL pivot values",
            "there is nothing to pivot — Spark's PIVOT clause cannot take " +
              "an empty IN list; filter or list values explicitly")
        if (pairs.length > MaxDynamicPivotValues)
          fail(s"dynamic PIVOT with > $MaxDynamicPivotValues distinct values",
            "a pivot this wide is a mis-shaped plan on any engine — " +
              "aggregate instead, or list the values you want in IN (...)")
        i = stopPos
        pairs.map { case (lit, nm) => s"""$lit AS "${nm.replace("\"", "\"\"")}"""" }
      }
    // USING section (optional; DuckDB defaults to count(*))
    val tailPos0  = findTopLevelWord(t, i, Set("order", "limit", "offset", "having", "qualify"))
    val tailPos   = if (tailPos0 < 0) t.length else tailPos0
    def before(p: Int) = if (p >= 0 && p < tailPos) p else -1
    val usingPos = before(findTopLevelWord(t, i, Set("using")))
    val groupPos = before(findTopLevelWord(t, i, Set("group")))
    val aggsTxt =
      if (usingPos < 0) "count(*)"
      else t.substring(usingPos + "using".length,
        if (groupPos >= 0) groupPos else tailPos).trim
    val groupsTxt =
      if (groupPos < 0) ""
      else {
        val afterBy = t.substring(groupPos + "group".length, tailPos).trim
        if (!afterBy.toLowerCase.startsWith("by"))
          fail("PIVOT GROUP without BY", "the form is GROUP BY col, ...")
        afterBy.substring(2).trim
      }
    val tail = t.substring(tailPos).trim
    // aliases: a single unaliased aggregate names columns by value
    // alone in both engines; aliased ones name value_alias in both;
    // unaliased MULTIPLE aggregates diverge — require aliases
    val aggs = splitTopLevel(aggsTxt).map(_.trim)
    def aliasOf(a: String): Option[String] = {
      val p = findTopLevelWord(a, 0, Set("as"))
      if (p < 0) None else Some(a.substring(p + 2).trim.replace("\"", "").replace("`", ""))
    }
    if (aggs.length > 1 && !aggs.forall(aliasOf(_).isDefined))
      fail("PIVOT with multiple unaliased aggregates",
        "alias each (USING sum(x) AS s, max(x) AS m) so the pivoted column " +
          "names are well-defined in both engines")
    val valAliases = vals.map { v =>
      aliasOf(v).getOrElse {
        if (v.startsWith("'") && v.endsWith("'") && v.length >= 2)
          v.substring(1, v.length - 1).replace("''", "'")
        else v.replace("\"", "").replace("`", "")
      }
    }
    val valsOut = vals.zip(valAliases).map { case (v, a) =>
      if (aliasOf(v).isDefined) v
      else s"""$v AS "${a.replace("\"", "\"\"")}""""
    }
    def norm(s: String) = s.replace("\"", "").replace("`", "").toLowerCase
    // aggregate inputs: schema columns appearing as word tokens in the
    // USING text (alias names excluded)
    lazy val aggWords = {
      val words = scala.collection.mutable.Set[String]()
      var j = 0; var prev = ""
      while (j < aggsTxt.length) {
        val c = aggsTxt.charAt(j)
        if (c == '\'') j = closeString(aggsTxt, j)
        else if (c.isLetter || c == '_') {
          val s = j
          while (j < aggsTxt.length && (aggsTxt.charAt(j).isLetterOrDigit ||
            aggsTxt.charAt(j) == '_')) j += 1
          val w = aggsTxt.substring(s, j).toLowerCase
          if (prev != "as") words += w
          prev = w
        } else { if (!c.isWhitespace) prev = ""; j += 1 }
      }
      words
    }
    def schemaCols(why: String): Seq[String] = {
      val resolver = resolve.getOrElse(
        fail(s"statement-form PIVOT $why",
          "needs the table's schema — use Graft.duckSql (schema-aware) or " +
            "SELECT ... PIVOT directly"))
      val plain = table.replace("\"", "").replace("`", "")
      resolver(plain).getOrElse(
        fail(s"PIVOT $why over unresolvable source '$table'",
          "only a catalog table/view translates mechanically — " +
            "pre-project the subquery instead"))
    }
    val groups: Seq[String] =
      if (groupsTxt.nonEmpty) {
        val gs = splitTopLevel(groupsTxt).map(_.trim)
        if (!gs.forall(_.forall(c => c.isLetterOrDigit || c == '_' || c == '.' ||
          c == '"' || c == '`')))
          fail("PIVOT GROUP BY with computed expressions",
            "only plain columns translate mechanically — project the " +
              "expression to a column first")
        gs
      } else Nil
    val base =
      if (groups.isEmpty) table
      else {
        // DuckDB groups ONLY by the GROUP BY columns; Spark's PIVOT
        // groups by every column of the source not consumed by the
        // pivot — so re-project the source down to (groups, pivot
        // column, aggregate inputs), which needs the schema
        val cols = schemaCols("with GROUP BY")
        val keep = groups.map(norm).toSet + norm(pc)
        val aggCols = cols.filter(c => aggWords.contains(c.toLowerCase) &&
          !keep.contains(c.toLowerCase))
        s"(SELECT ${(groups ++ Seq(pc) ++ aggCols).mkString(", ")} FROM $table)"
      }
    val pivoted =
      s"SELECT * FROM $base PIVOT (${aggs.mkString(", ")} FOR $pc IN (${valsOut.mkString(", ")}))"
    // DuckDB zero-fills empty COUNT cells where Spark's PIVOT leaves
    // NULL (the aggregate never ran) — wrap count-valued output
    // columns in coalesce(..., 0), which needs the output column list
    def isCount(a: String) =
      a.takeWhile(c => c.isLetterOrDigit || c == '_').equalsIgnoreCase("count")
    val result =
      if (!aggs.exists(isCount)) pivoted
      else {
        val groupOut: Seq[String] =
          if (groups.nonEmpty) groups.map(g => g.substring(g.lastIndexOf('.') + 1))
          else {
            val cols = schemaCols("with a COUNT aggregate")
            val used = aggWords
            cols.filter(c => norm(c) != norm(pc) && !used.contains(c.toLowerCase))
          }
        val valueOut: Seq[(String, Boolean)] =
          for (va <- valAliases; a <- aggs) yield {
            val name =
              if (aggs.length == 1 && aliasOf(a).isEmpty) va
              else s"${va}_${aliasOf(a).get}"
            (name, isCount(a))
          }
        val items = groupOut.map(g => s""""$g"""") ++ valueOut.map { case (n, cnt) =>
          val q = s""""${n.replace("\"", "\"\"")}""""
          if (cnt) s"coalesce($q, 0) AS $q" else q
        }
        s"SELECT ${items.mkString(", ")} FROM ($pivoted)"
      }
    result + (if (tail.isEmpty) "" else s" $tail")
  }

  /** [[rewriteQualify]] applied at every subquery nesting level,
    * innermost first: each balanced `(...)` group's content is
    * rewritten recursively (a CTE body or derived table containing
    * QUALIFY gets its own subquery wrap in place), then the top level
    * itself. Groups that aren't SELECTs pass through [[rewriteQualify]]
    * unchanged, so function argument lists are untouched.
    */
  private def rewriteQualifyDeep(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') { val e = closeString(sql, i); out.append(sql.substring(i, e)); i = e }
      else if (c == '"') { val e = closeQuoted(sql, i); out.append(sql.substring(i, e)); i = e }
      else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i); val stop = if (e < 0) n else e + 1
        out.append(sql.substring(i, stop)); i = stop
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i); val stop = if (e < 0) n else e + 2
        out.append(sql.substring(i, stop)); i = stop
      } else if (c == '(') {
        val e = closeDelim(sql, i, '(', ')') // index just past ')'
        out.append('(').append(rewriteQualifyDeep(sql.substring(i + 1, e - 1)))
          .append(')')
        i = e
      } else { out.append(c); i += 1 }
    }
    rewriteDistinctOn(rewriteQualify(rewriteFromFirst(out.toString)))
  }

  /** DuckDB's FROM-first form, applied per nesting level: `FROM t
    * [SELECT list] <clauses>` → `SELECT <list or *> FROM t <clauses>`
    * (the optional SELECT sits between the FROM clause and WHERE in
    * DuckDB's grammar; bare `FROM t WHERE ...` keeps every clause).
    */
  private def rewriteFromFirst(sql: String): String = {
    val lead = sql.indexWhere(!_.isWhitespace)
    if (lead < 0) return sql
    val wEnd = {
      var j = lead
      while (j < sql.length && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
      j
    }
    if (!sql.substring(lead, wEnd).equalsIgnoreCase("from")) return sql
    val selPos = findTopLevelWord(sql, wEnd, Set("select"))
    if (selPos < 0) return sql.substring(0, lead) + "SELECT * " + sql.substring(lead)
    val selEnd0 = findTopLevelWord(sql, selPos + "select".length, Set(
      "where", "group", "having", "window", "qualify", "order", "limit",
      "offset", "union", "intersect", "except"))
    val selEnd = if (selEnd0 < 0) sql.length else selEnd0
    val fromPart   = sql.substring(lead, selPos).trim
    val selectPart = sql.substring(selPos + "select".length, selEnd).trim
    val rest       = sql.substring(selEnd)
    sql.substring(0, lead) + s"SELECT $selectPart $fromPart" +
      (if (rest.trim.isEmpty) "" else s" ${rest.trim}")
  }

  /** Word-boundary-safe select-head classification: a column named
    * `distinctive_col` or `on_col` must not look like the modifier.
    */
  private def isDistinctOnHead(prefix: String): Boolean =
    prefix.trim.matches("(?is)^select\\s+distinct\\s+on\\s*\\(.*")

  private def isDistinctHead(prefix: String): Boolean =
    prefix.trim.matches("(?is)^select\\s+distinct([^\\w].*)?$")

  /** `SELECT DISTINCT ON (keys) items FROM ... [ORDER BY o] [tail]` →
    * the row_number-over-partition idiom (Spark has no DISTINCT ON):
    * rank rows per key by the query's ORDER BY (the clause that
    * decides WHICH row survives — DuckDB-verified; without one the
    * pick is arbitrary, so the keys themselves serve), keep rank 1,
    * re-apply the outer tail. Applied per nesting level by
    * [[rewriteQualifyDeep]]. Select-list stars compose via
    * `* EXCLUDE (__don)`; combined DISTINCT ON + QUALIFY raises.
    */
  private def rewriteDistinctOn(sql: String): String = {
    val sel = findTopLevelWord(sql, 0, Set("select"))
    if (sel < 0) return sql
    var i = sel + "select".length
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    if (!sql.regionMatches(true, i, "distinct", 0, 8)) return sql
    var j = i + 8
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    if (!(sql.regionMatches(true, j, "on", 0, 2) &&
        (j + 2 >= sql.length || !(sql.charAt(j + 2).isLetterOrDigit || sql.charAt(j + 2) == '_'))))
      return sql
    j += 2
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    if (j >= sql.length || sql.charAt(j) != '(') return sql
    if (findTopLevelWord(sql, 0, Set("qualify")) >= 0)
      fail("DISTINCT ON combined with QUALIFY",
        "split into a subquery, or rewrite the DISTINCT ON as row_number() = 1 by hand")
    val keysEnd = closeDelim(sql, j, '(', ')')
    val keys    = sql.substring(j + 1, keysEnd - 1).trim
    val fromPos = findTopLevelWord(sql, keysEnd, Set("from"))
    if (fromPos < 0) return sql
    val items0 = sql.substring(keysEnd, fromPos).trim
    val items  = if (items0 == "*") "* EXCLUDE (__don)" else items0
    var tailStart = findTopLevelWord(sql, fromPos, Set("order", "limit", "offset"))
    if (tailStart < 0) tailStart = sql.length
    val body = sql.substring(fromPos, tailStart)
    val tail = sql.substring(tailStart)
    val obKeys =
      if (tail.trim.toLowerCase.startsWith("order")) {
        val byPos  = findTopLevelWord(tail, 0, Set("by"))
        val obEnd0 = findTopLevelWord(tail, byPos, Set("limit", "offset"))
        val obEnd  = if (obEnd0 < 0) tail.length else obEnd0
        tail.substring(byPos + 2, obEnd).trim
      } else keys
    sql.substring(0, sel) +
      s"SELECT $items FROM (\nSELECT *, row_number() OVER (PARTITION BY $keys " +
      s"ORDER BY $obKeys) AS __don\n${body.trim}\n) __distinct_on WHERE __don = 1 $tail".trim
  }

  /** Rewrite with schema access: `resolveTable(name)` returns the
    * column names of a catalog table/view, enabling the
    * `COLUMNS('regex')` select-list expansion (which needs the FROM
    * table's schema at rewrite time). Everything else is identical to
    * the 1-arg form.
    */
  def rewrite(sql: String, resolveTable: String => Option[Seq[String]]): String =
    rewriteTokens(rewriteQualifyDeep(expandColumns(
      rewritePivot(rewriteUnpivot(sql), Some(resolveTable), None), resolveTable)))

  /** Rewrite with schema AND data access: `distinctValues(source,
    * column)` returns the ordered distinct pivot values of `column`
    * in `source` as (sqlLiteral, columnName) pairs — enabling the
    * DYNAMIC statement-form `PIVOT t ON col` (no IN list), where
    * DuckDB infers the pivoted value list from the data.
    * [[graft.Graft.duckSql]] supplies a resolver that runs the
    * distinct probe in-session; the value list is capped at
    * [[MaxDynamicPivotValues]] (a wider pivot is a mis-shaped query,
    * and the probe's driver collect must stay bounded).
    */
  def rewrite(sql: String, resolveTable: String => Option[Seq[String]],
              distinctValues: (String, String) => Option[Seq[(String, String)]]): String =
    rewriteTokens(rewriteQualifyDeep(expandColumns(
      rewritePivot(rewriteUnpivot(sql), Some(resolveTable), Some(distinctValues)),
      resolveTable)))

  /** Dynamic-PIVOT value-list cap (matches DuckDB's own
    * pivot_limit≈100k in spirit but sized for a sane Spark plan: a
    * 1000-column pivot is already a mis-shaped query).
    */
  final val MaxDynamicPivotValues = 1000

  /** DuckDB star-expression expansion for the common SELECT-list form:
    * `SELECT ... fn(COLUMNS('regex')) ... FROM tbl` replicates each
    * item containing the call once per schema column whose name the
    * (unanchored, RE2-style) regex matches, substituting the column
    * and aliasing the item to it — verified against DuckDB 1.0:
    * `min(COLUMNS('^a')) + 1` over (aa, ab, ba) yields
    * `min(aa) + 1 AS aa, min(ab) + 1 AS ab`. `COLUMNS(*)` expands to
    * all columns. The same pass expands the `* REPLACE` star-modifier
    * (`SELECT * [EXCLUDE ...] REPLACE (expr AS col, ...) FROM tbl` →
    * the full column list with the named positions computed, DuckDB's
    * rule — see [[parseStarReplace]]). Anything beyond these forms (no
    * single resolvable FROM table, lambda / EXCLUDE-modified COLUMNS
    * argument, explicit alias — DuckDB itself emits degenerate
    * duplicate names there, no regex match — a binder error in DuckDB
    * too) falls through so the token pass raises with porting
    * guidance.
    */
  private def expandColumns(sql: String, resolve: String => Option[Seq[String]]): String = {
    val hasColumns = findWord(sql, 0, Set("columns"), topLevelOnly = false) >= 0
    val hasReplace = sql.indexOf('*') >= 0 &&
      findWord(sql, 0, Set("replace"), topLevelOnly = false) >= 0
    if (!hasColumns && !hasReplace) return sql
    val selPos  = findTopLevelWord(sql, 0, Set("select"))
    val fromPos = findTopLevelWord(sql, 0, Set("from"))
    if (selPos < 0 || fromPos < 0 || fromPos < selPos) return sql

    // FROM must be a single resolvable table/view (optionally aliased):
    // the clause text up to the next top-level clause keyword or
    // statement end, with no join/comma/subquery
    val clauseEndKw = findTopLevelWord(sql, fromPos + 4, Set(
      "where", "group", "having", "window", "qualify", "order", "limit",
      "offset", "union", "intersect", "except"))
    val fromClause = sql.substring(fromPos + 4,
      if (clauseEndKw < 0) sql.length else clauseEndKw).trim
    if (fromClause.isEmpty || fromClause.contains('(') || topLevelCommas(fromClause) > 0)
      return sql
    val fromWords = fromClause.split("\\s+").toSeq
    val lower = fromWords.map(_.toLowerCase)
    if (lower.exists(Set("join", "cross", "natural", "lateral", "inner",
        "left", "right", "full", "outer", "on", "using")) || fromWords.length > 3 ||
        (fromWords.length == 3 && lower(1) != "as"))
      return sql
    val tableName = fromWords.head.replace("\"", "")
    val cols = resolve(tableName) match {
      case Some(cs) => cs
      case None     => return sql
    }

    // select-list span (skip a leading DISTINCT/ALL keyword)
    var listStart = selPos + "select".length
    while (listStart < fromPos && sql.charAt(listStart).isWhitespace) listStart += 1
    val firstKw = sql.substring(listStart,
      math.min(fromPos, listStart + 9)).toLowerCase
    // word-boundary safe: a first column named distinctive_col / all_x
    // is not the keyword
    if (firstKw.startsWith("distinct") &&
      !(listStart + 8 < fromPos && (sql.charAt(listStart + 8).isLetterOrDigit ||
        sql.charAt(listStart + 8) == '_'))) listStart += "distinct".length
    else if (firstKw.startsWith("all") &&
      !(listStart + 3 < fromPos && (sql.charAt(listStart + 3).isLetterOrDigit ||
        sql.charAt(listStart + 3) == '_'))) listStart += "all".length

    def quoted(c: String) = "\"" + c.replace("\"", "\"\"") + "\""

    /** Resolve a COLUMNS(...) argument to the matched column names. */
    def columnsArgMatches(arg: String): Seq[String] = {
      val matched =
        if (arg == "*") cols
        else if (arg.length >= 2 && arg.head == '\'' && closeString(arg, 0) == arg.length) {
          val regex = arg.substring(1, arg.length - 1).replace("''", "'")
          val p = java.util.regex.Pattern.compile(regex)
          cols.filter(c => p.matcher(c).find())
        } else if (arg.startsWith("*")) {
          // `COLUMNS(* EXCLUDE (a, b))` / `COLUMNS(* EXCLUDE a)`
          val rest = arg.substring(1).trim
          val kwEnd = rest.indexWhere(ch => !(ch.isLetter || ch == '_'))
          val kw = if (kwEnd < 0) rest else rest.substring(0, kwEnd)
          if (!kw.equalsIgnoreCase("exclude"))
            fail(s"COLUMNS(* $kw ...)", "only * EXCLUDE (cols) is supported inside COLUMNS")
          val tail = rest.substring(kw.length).trim
          val excluded =
            if (tail.startsWith("(") && closeDelim(tail, 0, '(', ')') == tail.length)
              splitTopLevel(tail.substring(1, tail.length - 1))
                .map(_.trim.replace("\"", ""))
            else if (tail.nonEmpty &&
              tail.forall(ch => ch.isLetterOrDigit || ch == '_')) Seq(tail)
            else fail("COLUMNS(* EXCLUDE ...) with an unparseable exclusion list",
              "use EXCLUDE (col, ...)")
          excluded.foreach { ex =>
            if (!cols.exists(_.equalsIgnoreCase(ex)))
              fail(s"COLUMNS(* EXCLUDE ...) name '$ex' not in '$tableName'",
                "check the column name (DuckDB raises a binder error here too)")
          }
          val exSet = excluded.map(_.toLowerCase).toSet
          cols.filterNot(c => exSet(c.toLowerCase))
        } else fail("COLUMNS(...) with a non-literal argument (lambda, expression)",
          "list the wanted columns explicitly")
      if (matched.isEmpty)
        fail(s"COLUMNS($arg) matching no columns of '$tableName'",
          "check the regex (DuckDB raises a binder error here too)")
      matched
    }

    /** Expand the single COLUMNS(...) call in `text`, once per
      * matched column → (expanded text, column name) pairs. None when
      * there is no parseable COLUMNS call in `text`.
      */
    def expandCall(text: String): Option[Seq[(String, String)]] = {
      val cPos = findWord(text, 0, Set("columns"), topLevelOnly = false)
      if (cPos < 0) return None
      val argOpen = text.indexOf('(', cPos)
      if (argOpen < 0 || text.substring(cPos + 7, argOpen).exists(!_.isWhitespace))
        return None
      if (findWord(text, argOpen, Set("columns"), topLevelOnly = false) >= 0)
        fail("multiple COLUMNS(...) in one expression",
          "expand the column list by hand")
      val argClose = closeDelim(text, argOpen, '(', ')')
      val arg = text.substring(argOpen + 1, argClose - 1).trim
      Some(columnsArgMatches(arg).map { c =>
        (text.substring(0, cPos) + quoted(c) + text.substring(argClose), c)
      })
    }

    val items = splitTopLevel(sql.substring(listStart, fromPos))
    val expanded = items.flatMap { item =>
      val starReplace = parseStarReplace(item)
      val cPos = findWord(item, 0, Set("columns"), topLevelOnly = false)
      if (starReplace.isDefined) {
        val (excluded, repl) = starReplace.get
        repl.foreach { case (n, _) =>
          if (!cols.exists(_.equalsIgnoreCase(n)))
            fail(s"* REPLACE column '$n' not in '$tableName'",
              "check the column name (DuckDB raises a binder error here too)")
        }
        val exSet  = excluded.map(_.toLowerCase).toSet
        val byName = repl.map { case (n, e) => n.toLowerCase -> e }.toMap
        cols.filterNot(c => exSet(c.toLowerCase)).map { c =>
          byName.get(c.toLowerCase) match {
            case Some(e) => s"$e AS ${quoted(c)}"
            case None    => quoted(c)
          }
        }
      } else if (cPos < 0) Seq(item.trim)
      else {
        if (findTopLevelWord(item, 0, Set("as")) >= 0)
          fail("COLUMNS(...) with an explicit alias",
            "drop the alias; each expanded column is named after its source column")
        expandCall(item) match {
          case Some(exp) => exp.map { case (txt, c) => txt.trim + s" AS ${quoted(c)}" }
          case None      => return sql
        }
      }
    }

    // COLUMNS beyond the select list — engine-verified DuckDB rule:
    // in WHERE the predicate instantiates once per matched column and
    // the copies AND-fold; in ORDER BY each key containing a COLUMNS
    // call expands to one key per matched column, direction modifiers
    // riding along. (GROUP BY / HAVING reject COLUMNS in DuckDB
    // itself — a binder error — so those stay guided errors here.)
    var tail = sql.substring(fromPos)
    val wherePos = findTopLevelWord(tail, 0, Set("where"))
    if (wherePos >= 0) {
      val wEnd0 = findTopLevelWord(tail, wherePos + 5, Set("group", "having",
        "window", "qualify", "order", "limit", "offset", "union", "intersect", "except"))
      val wEnd = if (wEnd0 < 0) tail.length else wEnd0
      expandCall(tail.substring(wherePos + 5, wEnd)).foreach { exp =>
        val folded = exp.map { case (txt, _) => s"(${txt.trim})" }.mkString(" AND ")
        val rest = tail.substring(wEnd)
        tail = tail.substring(0, wherePos) + s"WHERE $folded" +
          (if (rest.trim.isEmpty) "" else "\n" + rest)
      }
    }
    val ordPos = findTopLevelWord(tail, 0, Set("order"))
    if (ordPos >= 0 &&
        findWord(tail, ordPos, Set("columns"), topLevelOnly = false) >= 0) {
      val afterBy = tail.substring(ordPos + 5).trim
      if (afterBy.toLowerCase.startsWith("by")) {
        val byOff = tail.indexOf(afterBy.substring(0, 2), ordPos + 5) + 2
        val oEnd0 = findTopLevelWord(tail, byOff,
          Set("limit", "offset", "union", "intersect", "except"))
        val oEnd = if (oEnd0 < 0) tail.length else oEnd0
        val keys = splitTopLevel(tail.substring(byOff, oEnd)).map(_.trim)
          .flatMap { k =>
            expandCall(k) match {
              case Some(exp) => exp.map(_._1.trim)
              case None      => Seq(k)
            }
          }
        val rest = tail.substring(oEnd)
        tail = tail.substring(0, ordPos) + s"ORDER BY ${keys.mkString(", ")}" +
          (if (rest.trim.isEmpty) "" else "\n" + rest)
      }
    }
    sql.substring(0, listStart).stripTrailing() + " " + expanded.mkString(", ") +
      "\n" + tail
  }

  /** Parse a select item of the form
    * `[qual.]* [EXCLUDE (cols)|EXCLUDE col] REPLACE (expr AS col, ...)`
    * → Some(excluded names, (name, expr) replacements); None when the
    * item isn't that shape (plain `*`, `* EXCLUDE` without REPLACE and
    * the string function `replace(s, a, b)` all pass through).
    * DuckDB-verified: output keeps every column's name and position,
    * replaced ones computed; EXCLUDE composes.
    */
  private def parseStarReplace(item: String): Option[(Seq[String], Seq[(String, String)])] = {
    val t = item.trim
    val starIdx = t.indexOf('*')
    if (starIdx < 0) return None
    val pre = t.substring(0, starIdx).trim
    if (pre.nonEmpty && !(pre.endsWith(".") &&
        pre.dropRight(1).trim.forall(ch => ch.isLetterOrDigit || ch == '_')))
      return None
    var i = starIdx + 1
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    def word(): String = {
      val s = i
      while (i < t.length && (t.charAt(i).isLetterOrDigit || t.charAt(i) == '_')) i += 1
      t.substring(s, i)
    }
    skipWs()
    var excluded = Seq.empty[String]
    var w = word()
    if (w.equalsIgnoreCase("exclude")) {
      skipWs()
      if (i < t.length && t.charAt(i) == '(') {
        val e = closeDelim(t, i, '(', ')')
        excluded = splitTopLevel(t.substring(i + 1, e - 1)).map(_.trim.replace("\"", ""))
        i = e
      } else excluded = Seq(word().trim)
      skipWs(); w = word()
    }
    if (!w.equalsIgnoreCase("replace")) return None
    skipWs()
    if (i >= t.length || t.charAt(i) != '(') return None
    val e = closeDelim(t, i, '(', ')')
    val args = splitTopLevel(t.substring(i + 1, e - 1))
    i = e; skipWs()
    if (i != t.length)
      fail("* REPLACE (...) followed by trailing tokens",
        "REPLACE must end the star expression")
    val repl = args.map { a =>
      // the LAST top-level AS separates expr from target name (inner
      // `CAST(x AS INT)` sits below paren depth 0 and is skipped)
      var p = findTopLevelWord(a, 0, Set("as"))
      var last = -1
      while (p >= 0) { last = p; p = findTopLevelWord(a, p + 2, Set("as")) }
      if (last < 0)
        fail("* REPLACE entry without AS",
          "each entry must be `expr AS column_name`")
      (a.substring(last + 2).trim.replace("\"", ""), a.substring(0, last).trim)
    }
    Some((excluded, repl))
  }

  /** [[findTopLevelWord]] generalized: `topLevelOnly = false` finds
    * the word at any paren depth (still outside strings, quotes and
    * comments).
    */
  private def findWord(sql: String, from: Int, words: Set[String],
                       topLevelOnly: Boolean): Int = {
    var i = from
    var depth = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') i = closeString(sql, i)
      else if (c == '"') i = closeQuoted(sql, i)
      else if (c == '`') { var j = i + 1; while (j < sql.length && sql.charAt(j) != '`') j += 1; i = j + 1 }
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i); i = if (e < 0) sql.length else e
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i); i = if (e < 0) sql.length else e + 2
      } else if (c == '(' || c == '[' || c == '{') { depth += 1; i += 1 }
      else if (c == ')' || c == ']' || c == '}') { depth -= 1; i += 1 }
      else if (c.isLetter || c == '_') {
        val s = i
        while (i < sql.length && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        if ((!topLevelOnly || depth == 0) && words.contains(sql.substring(s, i).toLowerCase))
          return s
      } else i += 1
    }
    -1
  }

  /** Top-level `QUALIFY cond` → subquery wrap:
    * `SELECT * FROM (<select sans qualify/tail>) __qualify_sub WHERE
    * cond <order/limit tail>`. Covers the form where the condition
    * references select-list aliases (`QUALIFY rn = 1`) directly; a
    * condition with inline `OVER(...)` windows — which an outer WHERE
    * can't host — gets each window expression hoisted into the inner
    * select list as a `__qwN` alias (dropped again via `* EXCLUDE`),
    * with the condition filtering on the alias (named `OVER w` windows
    * hoist too — the inner select keeps the WINDOW clause). Subquery/
    * CTE nesting is handled by [[rewriteQualifyDeep]] calling this per
    * level; QUALIFY on a DISTINCT select falls through to the explicit
    * error in the token pass.
    */
  private def rewriteQualify(sql: String): String = {
    val qStart = findTopLevelWord(sql, 0, Set("qualify"))
    if (qStart < 0) return sql
    // guard against a COLUMN merely named "qualify": the clause can
    // only follow a top-level FROM, and its condition must look like
    // one (non-empty, not starting with another clause keyword)
    val fromPos = findTopLevelWord(sql, 0, Set("from"))
    if (fromPos < 0 || fromPos > qStart) return sql
    val condStart = qStart + "qualify".length
    var tailStart = findTopLevelWord(sql, condStart, Set("order", "limit", "offset"))
    if (tailStart < 0) tailStart = sql.length
    val cond = sql.substring(condStart, tailStart).trim
    if (cond.isEmpty) return sql
    val firstWord = cond.takeWhile(c => c.isLetterOrDigit || c == '_').toLowerCase
    val clauseKeywords = Set("from", "where", "group", "having", "window", "union",
      "intersect", "except", "join", "on", "and", "or", "as", "asc", "desc", "by")
    val condStartsOk = cond.head.isLetterOrDigit || cond.head == '_' || cond.head == '('
    if (!condStartsOk || clauseKeywords.contains(firstWord)) return sql
    val tail = sql.substring(tailStart)
    // combined DISTINCT ON + QUALIFY: leave intact for
    // rewriteDistinctOn's guided error
    if (isDistinctOnHead(sql.substring(0, fromPos))) return sql
    extractWindows(cond) match {
      case None => sql // token pass raises with porting guidance
      case Some((_, Seq())) =>
        val inner = sql.substring(0, qStart).trim
        s"SELECT * FROM (\n$inner\n) __qualify_sub WHERE $cond $tail".trim
      case Some((newCond, windows)) =>
        val selPrefix  = sql.substring(0, fromPos)
        val isDistinct = isDistinctHead(selPrefix)
        // windows must see PRE-distinct rows (DuckDB-verified), so
        // DISTINCT moves to the OUTER projection: compute + filter
        // inside, dedup the final projection outside
        val innerSel =
          if (isDistinct) {
            val p = selPrefix.toLowerCase.indexOf("distinct")
            selPrefix.substring(0, p) + selPrefix.substring(p + "distinct".length)
          } else selPrefix
        val aliased = windows.zipWithIndex
          .map { case (w, ix) => s"$w AS __qw$ix" }.mkString(", ")
        val names = windows.indices.map(ix => s"__qw$ix").mkString(", ")
        val inner = innerSel.trim + s", $aliased\n" +
          sql.substring(fromPos, qStart).trim
        // EXCLUDE (not EXCEPT): this output feeds the token pass, which
        // owns the star-modifier spelling
        val head = if (isDistinct) "SELECT DISTINCT" else "SELECT"
        s"$head * EXCLUDE ($names) FROM (\n$inner\n) __qualify_sub WHERE $newCond $tail".trim
    }
  }

  /** Replace each maximal window expression `fn(args) OVER (spec)` or
    * `fn(args) OVER w` in `cond` with a `__qwN` placeholder; returns
    * the rewritten condition plus the extracted expressions in
    * placeholder order, or None when an `OVER` is present but not in
    * those shapes (not attached to a call, or parenthesized below the
    * condition's depth 0) — the caller then falls through to the
    * explicit error.
    */
  private def extractWindows(cond: String): Option[(String, Seq[String])] = {
    var cur   = cond
    val exprs = scala.collection.mutable.ArrayBuffer[String]()
    while (exprs.length < 32) {
      val oPos = findTopLevelWord(cur, 0, Set("over"))
      if (oPos < 0) {
        // an OVER below paren depth 0 (e.g. `(rn() OVER (...)) = 1`)
        // is out of this rewrite's reach — keep the explicit error
        // rather than emitting a window inside an outer WHERE
        return if (cur.toLowerCase.matches("(?s).*\\bover\\s*[(a-z_].*")) None
        else Some((cur, exprs.toSeq))
      }
      // single-quoted regions must not participate in paren matching
      val mask = new Array[Boolean](cur.length)
      var p = 0
      while (p < cur.length) {
        if (cur.charAt(p) == '\'') {
          val e = closeString(cur, p)
          var q = p; while (q < e && q < cur.length) { mask(q) = true; q += 1 }
          p = e
        } else p += 1
      }
      var j = oPos + "over".length
      while (j < cur.length && cur.charAt(j).isWhitespace) j += 1
      // `OVER (spec)` inline, or `OVER w` naming a WINDOW-clause
      // definition — the hoisted select item keeps the reference and
      // the inner select keeps the clause (Spark supports both)
      val overEnd =
        if (j < cur.length && cur.charAt(j) == '(') closeDelim(cur, j, '(', ')')
        else if (j < cur.length && (cur.charAt(j).isLetter || cur.charAt(j) == '_')) {
          var k2 = j
          while (k2 < cur.length &&
            (cur.charAt(k2).isLetterOrDigit || cur.charAt(k2) == '_')) k2 += 1
          k2
        } else return None
      var k = oPos - 1
      while (k >= 0 && cur.charAt(k).isWhitespace) k -= 1
      if (k < 0 || cur.charAt(k) != ')') return None // OVER without a call
      var depth = 0
      var m     = k
      var open  = -1
      while (m >= 0 && open < 0) {
        val c = cur.charAt(m)
        if (!mask(m)) {
          if (c == ')') depth += 1
          else if (c == '(') { depth -= 1; if (depth == 0) open = m }
        }
        m -= 1
      }
      if (open < 0) return None
      var idStart = open
      while (idStart > 0 && cur.charAt(idStart - 1).isWhitespace) idStart -= 1
      val idEnd = idStart
      while (idStart > 0 && {
        val c = cur.charAt(idStart - 1)
        c.isLetterOrDigit || c == '_' || c == '.'
      }) idStart -= 1
      if (idStart == idEnd) return None // parenthesized expr, not a call
      exprs += cur.substring(idStart, overEnd)
      cur = cur.substring(0, idStart) + s"__qw${exprs.length - 1}" + cur.substring(overEnd)
    }
    None
  }

  /** DuckDB type names Spark's parser rejects or misreads, mapped to
    * their Spark equivalents — applied to bare (unparameterized) cast
    * targets only; `VARCHAR(10)` etc. pass through. HUGEINT and the
    * unsigned widths map to the narrowest Spark type that holds their
    * full range.
    */
  private val CastTypes: Map[String, String] = Map(
    "varchar"  -> "STRING", "text" -> "STRING", "char" -> "STRING",
    "bpchar"   -> "STRING",
    "int1"     -> "TINYINT", "int2" -> "SMALLINT", "int4" -> "INT",
    "signed"   -> "INT", "int8" -> "BIGINT",
    "float4"   -> "FLOAT", "float8" -> "DOUBLE", "real" -> "FLOAT",
    "hugeint"  -> "DECIMAL(38,0)",
    "utinyint" -> "SMALLINT", "usmallint" -> "INT",
    "uinteger" -> "BIGINT", "ubigint" -> "DECIMAL(20,0)",
    "blob"     -> "BINARY", "bytea" -> "BINARY",
    "logical"  -> "BOOLEAN", "bool" -> "BOOLEAN")

  private def castType(t: String): String =
    CastTypes.getOrElse(t.toLowerCase, t)

  /** Spark integer cast targets whose CAST truncates where DuckDB
    * rounds; DECIMAL targets are excluded because Spark's decimal
    * cast already rounds half-up like DuckDB's.
    */
  private val IntCastTargets =
    Set("tinyint", "smallint", "int", "integer", "bigint")

  /** Index of the first depth-0 occurrence of any of `words` (matched
    * as whole identifiers, case-insensitive, outside strings/quotes/
    * comments), or -1.
    */
  private def findTopLevelWord(sql: String, from: Int, words: Set[String]): Int = {
    var i = from
    var depth = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') i = closeString(sql, i)
      else if (c == '"') i = closeQuoted(sql, i)
      else if (c == '`') { var j = i + 1; while (j < sql.length && sql.charAt(j) != '`') j += 1; i = j + 1 }
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i); i = if (e < 0) sql.length else e
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i); i = if (e < 0) sql.length else e + 2
      } else if (c == '(' || c == '[' || c == '{') { depth += 1; i += 1 }
      else if (c == ')' || c == ']' || c == '}') { depth -= 1; i += 1 }
      else if (c.isLetter || c == '_') {
        val s = i
        while (i < sql.length && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        if (depth == 0 && words.contains(sql.substring(s, i).toLowerCase)) return s
      } else i += 1
    }
    -1
  }

  private def rewriteTokens(sql: String): String = {
    val out = new StringBuilder
    val n   = sql.length
    var i   = 0

    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') {
        // DuckDB string literals are standard SQL: backslashes are
        // ordinary characters ('\d' is 2 chars). Spark's default
        // parser treats backslash as an escape, so double each one;
        // '' quote-doubling is shared syntax and passes through. (This
        // is the one non-idempotent rewrite — re-shimming ALREADY
        // Spark-dialect text with backslash literals would double
        // them again.)
        val end = closeString(sql, i)
        out.append(sql.substring(i, end).replace("\\", "\\\\")); i = end
      } else if (c == '"') {
        val end  = closeQuoted(sql, i)
        val name = sql.substring(i + 1, end - 1).replace("\"\"", "\"").replace("`", "``")
        out.append('`').append(name).append('`'); i = end
      } else if (c == '`') {
        // already-Spark backtick identifier (mixed input, or our own
        // output on a re-run): opaque — its content must not trigger
        // cast/div/subscript rewrites
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != '`') j += 1
        val end = math.min(j + 1, sql.length)
        out.append(sql.substring(i, end)); i = end
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val e   = sql.indexOf('\n', i)
        val end = if (e < 0) n else e
        out.append(sql.substring(i, end)); i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e   = sql.indexOf("*/", i)
        val end = if (e < 0) n else e + 2
        out.append(sql.substring(i, end)); i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '/') {
        out.append(" div "); i += 2
      } else if (c == '-' && i + 2 < n && sql.charAt(i + 1) == '>' &&
          sql.charAt(i + 2) == '>') {
        // JSON extract-text operator `j ->> 'k'` → json_extract_string
        // (registered; bare keys and integer indices normalize to
        // $-rooted paths). The single-arrow `j -> 'k'` is textually a
        // lambda arrow and is NOT rewritten — use the function names.
        val rEnd     = scanAtom(sql, i + 3)
        val rightTxt = rewriteTokens(sql.substring(i + 3, rEnd)).trim
        val start    = operandStart(out)
        out.insert(start, "json_extract_string(")
        while (out.nonEmpty && out.charAt(out.length - 1).isWhitespace)
          out.setLength(out.length - 1)
        out.append(", ").append(rightTxt).append(')')
        i = rEnd
      } else if (c == ':' && i + 1 < n && sql.charAt(i + 1) == ':') {
        i += 2
        while (i < n && sql.charAt(i).isWhitespace) i += 1
        val tStart = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        var typ = sql.substring(tStart, i)
        if (i < n && sql.charAt(i) == '(') {
          val e = closeDelim(sql, i, '(', ')'); typ += sql.substring(i, e); i = e
        } else typ = castType(typ)
        // DuckDB's list-type suffix: `INT[]` → `ARRAY<INT>` (nested
        // `[][]` wraps again); fixed-size `INT[3]` is not mapped
        while (i + 1 < n && sql.charAt(i) == '[' && sql.charAt(i + 1) == ']') {
          typ = s"ARRAY<$typ>"; i += 2
        }
        val start = operandStart(out)
        // DuckDB casts numerics to integer types by ROUNDING half away
        // from zero (2.5::INT = 3, -2.5::INT = -3, '42.7'::INT = 43);
        // Spark CAST truncates — wrap integer-target casts in ROUND
        // (identity on already-integral operands)
        if (IntCastTargets.contains(typ.toLowerCase)) {
          out.insert(start, "CAST(ROUND(")
          out.append(") AS ").append(typ).append(')')
        } else {
          out.insert(start, "CAST(")
          out.append(" AS ").append(typ).append(')')
        }
      } else if (c == '[') {
        val end      = closeDelim(sql, i, '[', ']')
        val innerRaw = sql.substring(i + 1, end - 1)
        val word     = trailingWord(out)
        val subscript = {
          val p = prevSignificant(out)
          // a closing string quote counts: 'abcdef'[2] is a CHARACTER
          // subscript in DuckDB
          (p.isLetterOrDigit || p == '_' || p == ')' || p == ']' || p == '`' ||
            p == '\'') && !NonOperandKeywords.contains(word.toLowerCase)
        }
        if (subscript) {
          val colon = topLevelColon(innerRaw)
          val start = operandStart(out)
          if (colon >= 0) {
            // list_slice (DuckFunctions) carries the full DuckDB slice
            // conventions — inclusive end, negatives, clamping, step —
            // which plain slice(arr, a, b-a+1) gets wrong for
            // mixed-sign bounds. Omitted bounds ([a:], [:b]) mean the
            // list boundary, spelled 1 / -1 (first / last inclusive)
            val rest = innerRaw.substring(colon + 1)
            val c2   = topLevelColon(rest)
            val (hiRaw, stepRaw) =
              if (c2 >= 0) (rest.substring(0, c2), Some(rest.substring(c2 + 1)))
              else (rest, None)
            // an omitted bound means the boundary the walk STARTS or
            // ENDS at — which flips when a (possibly non-literal)
            // step is negative, e.g. DuckDB `l[:2:-1]` walks from the
            // LAST element down to 2
            val stepTxt = stepRaw.map(s => rewrite(s).trim)
            def bound(s: String, fwd: String, rev: String): String = {
              val r = rewrite(s).trim
              if (r.nonEmpty) r
              else stepTxt match {
                case None => fwd
                case Some(st) =>
                  if (st.matches("-?\\d+")) { if (st.startsWith("-")) rev else fwd }
                  else s"CASE WHEN ($st) < 0 THEN $rev ELSE $fwd END"
              }
            }
            out.insert(start, "list_slice(")
            out.append(", ").append(bound(innerRaw.substring(0, colon), "1", "-1"))
              .append(", ").append(bound(hiRaw, "-1", "1"))
            stepTxt.foreach(s => out.append(", ").append(s))
            out.append(')')
          } else {
            val lit = innerRaw.trim
            // a string subscript can only target a struct (field
            // extract) or a map: route literal ones to struct_extract
            // (UnresolvedExtractValue — resolves per operand type);
            // DuckDB 1.0's MAP['k'] wraps the value in a list, Spark
            // yields the bare value (documented delta)
            if (lit.length >= 2 && lit.head == '\'' && closeString(lit, 0) == lit.length) {
              out.insert(start, "struct_extract(")
              out.append(", ").append(lit.replace("\\", "\\\\")).append(')')
            } else {
              out.insert(start, "list_extract(")
              out.append(", ").append(rewrite(innerRaw).trim).append(')')
            }
          }
        } else {
          val forPos = findTopLevelWord(innerRaw, 0, Set("for"))
          if (forPos >= 0) {
            // list comprehension [expr FOR v IN list [IF cond]] →
            // transform(filter(list, v -> cond), v -> expr)
            val expr  = innerRaw.substring(0, forPos)
            val rest  = innerRaw.substring(forPos + 3)
            val inPos = findTopLevelWord(rest, 0, Set("in"))
            if (inPos < 0)
              fail("a list comprehension without IN",
                "the form is [expr FOR v IN list [IF cond]]")
            val v = rest.substring(0, inPos).trim
            if (v.isEmpty || v.head.isDigit ||
              !v.forall(ch => ch.isLetterOrDigit || ch == '_'))
              fail("a list comprehension with a non-identifier variable",
                "the form is [expr FOR v IN list [IF cond]]")
            val rest2 = rest.substring(inPos + 2)
            val ifPos = findTopLevelWord(rest2, 0, Set("if"))
            val (lstTxt, condTxt) =
              if (ifPos < 0) (rest2, None)
              else (rest2.substring(0, ifPos), Some(rest2.substring(ifPos + 2)))
            val lst = rewriteTokens(lstTxt).trim
            val src = condTxt match {
              case Some(ct) => s"filter($lst, $v -> ${rewriteTokens(ct).trim})"
              case None     => lst
            }
            if (word.equalsIgnoreCase("array")) dropTrailingWord(out, word)
            out.append(s"transform($src, $v -> ${rewriteTokens(expr).trim})")
          } else {
            // Postgres-style ARRAY[...] sugar: drop the keyword
            if (word.equalsIgnoreCase("array")) dropTrailingWord(out, word)
            out.append("array(").append(rewrite(innerRaw)).append(')')
          }
        }
        i = end
      } else if (c == '^' || (c == '*' && i + 1 < n && sql.charAt(i + 1) == '*' &&
          prevSignificant(out) != '(' && prevSignificant(out) != ',')) {
        // DuckDB's `^` and `**` are POWER (left-assoc, tighter than
        // `*`, looser than unary minus); Spark's `^` is bitwise XOR —
        // a silent wrong answer without the rewrite (use xor(a, b),
        // registered, for bitwise)
        val opLen = if (c == '^') 1 else 2
        val rEnd  = scanAtom(sql, i + opLen)
        val start = powerOperandStart(out)
        out.insert(start, "power(")
        while (out.nonEmpty && out.charAt(out.length - 1).isWhitespace)
          out.setLength(out.length - 1)
        out.append(", ").append(rewriteTokens(sql.substring(i + opLen, rEnd)).trim)
          .append(')')
        i = rEnd
      } else if (c == '{') {
        // DuckDB struct literal `{'k': v, ...}` → named_struct; the
        // `MAP {k: v, ...}` prefix form → map(k, v, ...). Spark has no
        // brace syntax, so a bare `{` is unambiguous.
        val end   = closeDelim(sql, i, '{', '}')
        val inner = sql.substring(i + 1, end - 1)
        val word  = trailingWord(out)
        val isMap = word.equalsIgnoreCase("map")
        if (isMap) dropTrailingWord(out, word)
        if (inner.trim.isEmpty) {
          if (isMap) out.append("map()")
          else fail("an empty struct literal {}",
            "DuckDB itself rejects {}; supply at least one entry")
        } else {
          val entries = splitTopLevel(inner).map { seg =>
            val colon = topLevelColon(seg)
            if (colon < 0)
              fail("a struct/map literal entry without ':'",
                "entries are 'name': value (struct) or key: value (MAP)")
            val keyRaw = seg.substring(0, colon).trim
            val value  = rewriteTokens(seg.substring(colon + 1)).trim
            val key =
              if (isMap) rewriteTokens(keyRaw) // expression keys, as DuckDB's
              else if (keyRaw.length >= 2 && keyRaw.head == '\'' &&
                closeString(keyRaw, 0) == keyRaw.length)
                keyRaw.replace("\\", "\\\\")
              else if (keyRaw.length >= 2 && keyRaw.head == '"' &&
                closeQuoted(keyRaw, 0) == keyRaw.length)
                "'" + keyRaw.substring(1, keyRaw.length - 1)
                  .replace("\"\"", "\"").replace("'", "''").replace("\\", "\\\\") + "'"
              else if (keyRaw.nonEmpty && !keyRaw.head.isDigit &&
                keyRaw.forall(ch => ch.isLetterOrDigit || ch == '_'))
                "'" + keyRaw + "'"
              else fail("a struct literal key that isn't a name",
                "struct keys are 'name' or bare identifiers; use MAP {...} for expression keys")
            s"$key, $value"
          }
          out.append(if (isMap) "map(" else "named_struct(")
            .append(entries.mkString(", ")).append(')')
        }
        i = end
      } else if (c.isLetter || c == '_') {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        val word = sql.substring(s, i)
        word.toLowerCase match {
          case "qualify" =>
            // the pre-pass wraps every rewritable form at every
            // nesting level (inline and WINDOW-clause-named windows
            // hoisted as __qwN aliases, DISTINCT lifted to the outer
            // projection); reaching here means DISTINCT ON or a window
            // buried below the condition's paren depth 0
            fail("QUALIFY in a form the shim can't wrap (DISTINCT ON, or a parenthesized window expression)",
              "alias the window expression in the select list and QUALIFY the alias, " +
                "or wrap the query in a subquery with WHERE")
          case "exclude" if prevSignificant(out) == '*' =>
            // Spark 4 star-modifier spells this EXCEPT; DuckDB allows a
            // bare single column, Spark requires the paren list
            out.append("EXCEPT")
            if (nextSignificant(sql, i) != '(') {
              while (i < n && sql.charAt(i).isWhitespace) i += 1
              val s2 = i
              while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
              if (i == s2) fail("* EXCLUDE <non-identifier>", "list the wanted columns explicitly")
              out.append(" (").append(sql.substring(s2, i)).append(')')
            }
          case "varchar" | "hugeint" | "bpchar" | "bytea" | "int1" | "int2" |
               "int4" | "int8" | "float4" | "float8" | "utinyint" | "usmallint" |
               "uinteger" | "ubigint" if nextSignificant(sql, i) != '(' =>
            // longhand CAST(x AS VARCHAR)/HUGEINT/... — these tokens
            // are Spark-invalid as bare types and implausible as
            // identifiers, so map them anywhere they appear unsized;
            // ambiguous names (text, real, char, blob) are mapped only
            // on the :: path
            out.append(castType(word))
          case "columns" if nextSignificant(sql, i) == '(' =>
            fail("COLUMNS(...)", "list the wanted columns explicitly")
          case "replace" if prevSignificant(out) == '*' &&
              nextSignificant(sql, i) == '(' =>
            // the star-modifier form reaching the token pass means no
            // schema resolver was supplied (Graft.duckSql supplies one)
            fail("* REPLACE (...) without schema access",
              "use Graft.duckSql / rewrite(sql, resolveTable), or list the columns explicitly")
          case "string_agg" if nextSignificant(sql, i) == '(' =>
            // ordered form: string_agg(x, d ORDER BY y) has the ORDER
            // BY inside the argument list — Spark spells it
            // listagg(x, d) WITHIN GROUP (ORDER BY y). The unordered
            // form passes through (DuckFunctions aliases it).
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val ob    = findTopLevelWord(inner, 0, Set("order"))
            if (ob < 0) out.append(word).append('(').append(rewriteTokens(inner)).append(')')
            else {
              val args = inner.substring(0, ob).trim.stripSuffix(",").trim
              out.append("listagg(").append(rewriteTokens(args))
                .append(") WITHIN GROUP (").append(rewriteTokens(inner.substring(ob))).append(')')
            }
            i = end
          case "list" | "array_agg" if nextSignificant(sql, i) == '(' =>
            // ordered in-args form: list(x ORDER BY k [DESC] [NULLS
            // FIRST], ...) → sort a collect_list of (keys, value)
            // structs with an explicit comparator (DuckDB defaults
            // NULLS LAST in both directions), then unwrap. The struct
            // wrapper also preserves NULL values of x — DuckDB's list
            // keeps them. The unordered form passes through
            // (DuckFunctions registers the same struct trick).
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end      = closeDelim(sql, i, '(', ')')
            val innerAll = sql.substring(i + 1, end - 1)
            // DISTINCT dedups keeping first occurrence — array_distinct
            // over the NULL-keeping collect does the same (and keeps
            // the sort of an ordered form, since duplicates are
            // adjacent after sorting)
            val dTrim    = innerAll.trim
            val distinct = dTrim.length > 8 &&
              dTrim.substring(0, 8).equalsIgnoreCase("distinct") &&
              !(dTrim.charAt(8).isLetterOrDigit || dTrim.charAt(8) == '_')
            val inner    = if (distinct) dTrim.substring(8) else innerAll
            val ob       = orderByPos(inner)
            if (distinct) out.append("array_distinct(")
            if (ob < 0) out.append(word).append('(').append(rewriteTokens(inner)).append(')')
            else {
              val value = inner.substring(0, ob).trim
              if (value.isEmpty || topLevelCommas(value) > 0)
                fail(s"$word(... ORDER BY ...) without exactly one value expression",
                  "the ordered rewrite takes one value; expand by hand otherwise")
              out.append(orderedCollect(rewriteTokens(value).trim,
                parseOrderKeys(inner.substring(ob))))
            }
            if (distinct) out.append(')')
            i = end
          case "first" | "last" if nextSignificant(sql, i) == '(' =>
            // first(x ORDER BY k) is the arg-min of k (NULL keys sort
            // last in DuckDB, min_by skips them — same winner); DESC
            // and last() swap to max_by. Without ORDER BY both engines
            // take an arbitrary row — pass through.
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val ob    = orderByPos(inner)
            if (ob < 0) {
              // DuckDB's window first/last also take in-args
              // IGNORE/RESPECT NULLS
              val (args, suffix) = splitNullsMode(inner)
              out.append(word).append('(').append(rewriteTokens(args)).append(')')
                .append(suffix)
            } else {
              val value = inner.substring(0, ob).trim
              val keys  = parseOrderKeys(inner.substring(ob))
              if (value.isEmpty || topLevelCommas(value) > 0 || keys.length != 1)
                fail(s"$word(... ORDER BY ...) beyond one value and one key",
                  "use min_by/max_by directly, or a window rewrite")
              val k = keys.head
              if (k.nullsFirst)
                fail(s"$word(... ORDER BY ... NULLS FIRST)",
                  "min_by/max_by skip NULL ordering keys; rewrite by hand")
              val minSide = word.equalsIgnoreCase("first") != k.desc
              out.append(if (minSide) "min_by(" else "max_by(")
                .append(rewriteTokens(value).trim).append(", ")
                .append(rewriteTokens(k.expr).trim).append(')')
            }
            i = end
          case "lag" | "lead" | "first_value" | "last_value" | "nth_value"
              if nextSignificant(sql, i) == '(' =>
            // DuckDB puts IGNORE/RESPECT NULLS inside the argument
            // list; Spark wants it after the call
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val (args, suffix) = splitNullsMode(inner)
            out.append(word).append('(').append(rewriteTokens(args)).append(')')
              .append(suffix)
            i = end
          case "extract" if nextSignificant(sql, i) == '(' =>
            // extract(part FROM x) → duck_datepart('part', x): Spark's
            // second is fractional, its dow is 1-based, and it rejects
            // isodow/epoch/micro/millisecond/century/decade/millennium
            // outright — the registered expression carries DuckDB's
            // values for every part
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val fp    = findTopLevelWord(inner, 0, Set("from"))
            if (fp < 0) out.append(word).append('(').append(rewriteTokens(inner)).append(')')
            else {
              val part = inner.substring(0, fp).trim.replace("'", "")
              if (part.isEmpty || !part.forall(ch => ch.isLetterOrDigit || ch == '_'))
                fail(s"extract with part '$part'", "use a plain part name")
              out.append(s"duck_datepart('${part.toLowerCase}', ")
                .append(rewriteTokens(inner.substring(fp + 4)).trim).append(')')
            }
            i = end
          case "date_part" | "datepart" if nextSignificant(sql, i) == '(' =>
            // 2-arg literal-part form → duck_datepart (Spark's own
            // date_part has the same value divergences as extract);
            // the list-of-parts form returns a struct — manual port
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val parts = splitTopLevel(inner).map(_.trim)
            val isLit = parts.length == 2 && parts.head.length >= 2 &&
              parts.head.head == '\'' &&
              closeString(parts.head, 0) == parts.head.length
            if (!isLit)
              fail(s"$word without a literal part name",
                "the list-of-parts struct form needs a manual port")
            out.append("duck_datepart(").append(parts.head.toLowerCase)
              .append(", ").append(rewriteTokens(parts(1)).trim).append(')')
            i = end
          case "format" if nextSignificant(sql, i) == '(' =>
            // DuckDB's fmt-style format('{} and {}', ...) → printf
            // with %-codes; NULL on any NULL argument (java.util.
            // Formatter would print "null"), hence the guard
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val parts = splitTopLevel(inner).map(_.trim)
            val fmt   = parts.head
            if (!(fmt.length >= 2 && fmt.head == '\'' && closeString(fmt, 0) == fmt.length))
              fail("format() with a non-literal format string",
                "port to printf with %-style codes")
            val (raw, doubleArgs) = fmtToPrintf(fmt.substring(1, fmt.length - 1))
            val translated = raw.replace("\\", "\\\\")
            // java's %f rejects DECIMAL (fmt accepts any numeric) —
            // cast the arguments an f-conversion consumes
            val args = parts.tail.map(a => rewriteTokens(a).trim).zipWithIndex.map {
              case (a, ix) => if (doubleArgs(ix)) s"CAST($a AS DOUBLE)" else a
            }
            if (args.isEmpty) out.append(s"printf('$translated')")
            else {
              val guard = args.map(a => s"($a) IS NULL").mkString(" OR ")
              out.append(s"(CASE WHEN $guard THEN CAST(NULL AS STRING) " +
                s"ELSE printf('$translated', ${args.mkString(", ")}) END)")
            }
            i = end
          case "using" if {
            var j = i
            while (j < n && sql.charAt(j).isWhitespace) j += 1
            var k = j
            while (k < n && sql.charAt(k).isLetter) k += 1
            sql.substring(j, k).equalsIgnoreCase("sample")
          } =>
            // USING SAMPLE n [ROWS] / n% / n PERCENT [(method[, seed])]
            // / method(n[%]) → TABLESAMPLE (n ROWS|PERCENT). The
            // sampling METHOD is engine-specific and dropped (both
            // engines' samples are nondeterministic); a seed raises —
            // Spark SQL TABLESAMPLE can't honor it. JOIN ... USING
            // (cols) doesn't match the SAMPLE lookahead.
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            i += "sample".length
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            var num  = ""
            var unit = "ROWS"
            if (i < n && sql.charAt(i).isDigit) {
              val s0 = i
              while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.')) i += 1
              num = sql.substring(s0, i)
              var j2 = i
              while (j2 < n && sql.charAt(j2).isWhitespace) j2 += 1
              if (j2 < n && sql.charAt(j2) == '%') { unit = "PERCENT"; i = j2 + 1 }
              else {
                var k2 = j2
                while (k2 < n && sql.charAt(k2).isLetter) k2 += 1
                sql.substring(j2, k2).toLowerCase match {
                  case "percent" => unit = "PERCENT"; i = k2
                  case "rows"    => unit = "ROWS"; i = k2
                  case _         =>
                }
              }
              var j3 = i
              while (j3 < n && sql.charAt(j3).isWhitespace) j3 += 1
              if (j3 < n && sql.charAt(j3) == '(') {
                val e2 = closeDelim(sql, j3, '(', ')')
                if (topLevelCommas(sql.substring(j3 + 1, e2 - 1)) > 0)
                  fail("USING SAMPLE with a seed",
                    "Spark TABLESAMPLE has no seed syntax; use DataFrame.sample(seed) or drop it")
                i = e2
              }
            } else {
              // method-style: reservoir(10%) / bernoulli(20)
              val s0 = i
              while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
              if (i == s0 || nextSignificant(sql, i) != '(')
                fail("USING SAMPLE without a recognizable size",
                  "use n, n%, n PERCENT, n ROWS or method(n[%])")
              while (i < n && sql.charAt(i).isWhitespace) i += 1
              val e2   = closeDelim(sql, i, '(', ')')
              val spec = sql.substring(i + 1, e2 - 1).trim
              if (topLevelCommas(spec) > 0)
                fail("USING SAMPLE with a seed",
                  "Spark TABLESAMPLE has no seed syntax; use DataFrame.sample(seed) or drop it")
              var p = 0
              while (p < spec.length && (spec.charAt(p).isDigit || spec.charAt(p) == '.')) p += 1
              if (p == 0)
                fail(s"USING SAMPLE size '$spec'",
                  "expected a number (rows) or percentage")
              num = spec.substring(0, p)
              val rest = spec.substring(p).trim
              if (rest == "%" || rest.equalsIgnoreCase("percent")) unit = "PERCENT"
              else if (rest.nonEmpty && !rest.equalsIgnoreCase("rows"))
                fail(s"USING SAMPLE size '$spec'",
                  "expected n, n% or n PERCENT inside method(...)")
              i = e2
            }
            out.append("TABLESAMPLE (").append(num).append(' ').append(unit).append(')')
          case "log" if nextSignificant(sql, i) == '(' =>
            // DuckDB's 1-arg log() is log BASE 10; Spark's is natural
            // log. The 2-arg log(base, x) form agrees.
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            val name  = if (topLevelCommas(inner) == 0) "log10" else "log"
            out.append(name).append('(').append(rewriteTokens(inner)).append(')')
            i = end
          case "regexp_extract" if nextSignificant(sql, i) == '(' =>
            // DuckDB's default group is 0 (whole match); Spark's is 1
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            out.append(word).append('(').append(rewriteTokens(inner))
            if (topLevelCommas(inner) == 1) out.append(", 0")
            out.append(')')
            i = end
          case "struct_pack" | "struct_insert" if nextSignificant(sql, i) == '(' =>
            // struct_pack(a := 1, b := x) → named_struct('a', 1, 'b', x);
            // struct_insert(s, b := x) keeps its name (registered as an
            // UpdateFields fold) with the := pairs flattened to
            // ('b', x) argument pairs
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end      = closeDelim(sql, i, '(', ')')
            val inner    = sql.substring(i + 1, end - 1)
            val isInsert = word.equalsIgnoreCase("struct_insert")
            val segs     = splitTopLevel(inner)
            val pairSegs = if (isInsert) segs.drop(1) else segs
            if (isInsert && !pairSegs.exists(_.contains(":="))) {
              // already the flattened ('name', value) form — our own
              // output on a re-run; pass through for stability
              out.append(word).append('(').append(rewriteTokens(inner)).append(')')
            } else {
              val parts = pairSegs.map { seg =>
                val assign = seg.indexOf(":=")
                if (assign < 0)
                  fail(s"$word without name := value arguments",
                    "use named_struct('name', value, ...) directly")
                val nm = seg.substring(0, assign).trim
                s"'$nm', ${rewriteTokens(seg.substring(assign + 2).trim)}"
              }
              if (isInsert)
                out.append("struct_insert(").append(rewriteTokens(segs.head).trim)
                  .append(", ").append(parts.mkString(", ")).append(')')
              else out.append("named_struct(").append(parts.mkString(", ")).append(')')
            }
            i = end
          case "regexp_replace" if nextSignificant(sql, i) == '(' =>
            // DuckDB replaces the FIRST match unless the 'g' flag is
            // present; Spark's regexp_replace is always global — route
            // to the registered DuckDB-semantics expression
            out.append("duck_regexp_replace")
          case "datediff" | "date_diff" if nextSignificant(sql, i) == '(' =>
            // Spark's parser claims these names as timestampdiff
            // syntax (unquoted unit, full-period counting); DuckDB's
            // 3-arg form counts part-boundary crossings — route to
            // duck_datediff. The 2-arg form is Spark's own.
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            val end   = closeDelim(sql, i, '(', ')')
            val inner = sql.substring(i + 1, end - 1)
            if (topLevelCommas(inner) == 2)
              out.append("duck_datediff(").append(rewriteTokens(inner)).append(')')
            else out.append(word).append('(').append(rewriteTokens(inner)).append(')')
            i = end
          case "asof" if {
            var j = i
            while (j < n && sql.charAt(j).isWhitespace) j += 1
            var k = j
            while (k < n && sql.charAt(k).isLetter) k += 1
            sql.substring(j, k).equalsIgnoreCase("join")
          } =>
            fail("ASOF JOIN",
              "use graft.ops.AsofJoin.asof — the engine's one-shuffle " +
                "as-of operator (backward/forward, tolerance, inner/outer)")
          case "glob" if nextSignificant(sql, i) == '\'' =>
            // `s GLOB 'a*c'` — case-sensitive glob full-match; only
            // the literal-pattern form translates (to an anchored
            // regex via regexp_full_match). A trailing NOT negates
            // (DuckDB's own parser rejects the infix `NOT GLOB` form —
            // accepted here as a graceful superset, mirroring the
            // SIMILAR TO negation handling so the operand is never
            // split mid-expression)
            val rEnd = scanAtom(sql, i)
            val lit  = sql.substring(i, rEnd).trim
            val pat  = lit.substring(1, lit.length - 1).replace("''", "'")
            val rx   = globToRegex(pat).replace("'", "''").replace("\\", "\\\\")
            val negWord = trailingWord(out)
            val negated = negWord.equalsIgnoreCase("not")
            if (negated) dropTrailingWord(out, negWord)
            val start = operandStart(out)
            out.insert(start,
              if (negated) "NOT regexp_full_match(" else "regexp_full_match(")
            while (out.nonEmpty && out.charAt(out.length - 1).isWhitespace)
              out.setLength(out.length - 1)
            out.append(", '").append(rx).append("')")
            i = rEnd
          case "similar" if {
            var j = i
            while (j < n && sql.charAt(j).isWhitespace) j += 1
            var k = j
            while (k < n && sql.charAt(k).isLetter) k += 1
            sql.substring(j, k).equalsIgnoreCase("to")
          } =>
            // `x [NOT] SIMILAR TO p` — full-match regex in DuckDB
            // (≡ regexp_full_match); Spark has no SIMILAR TO
            while (i < n && sql.charAt(i).isWhitespace) i += 1
            i += 2 // consume TO
            val rEnd     = scanAtom(sql, i)
            val rightTxt = rewriteTokens(sql.substring(i, rEnd)).trim
            val negWord  = trailingWord(out)
            val negated  = negWord.equalsIgnoreCase("not")
            if (negated) dropTrailingWord(out, negWord)
            val start = operandStart(out)
            out.insert(start,
              if (negated) "NOT regexp_full_match(" else "regexp_full_match(")
            while (out.nonEmpty && out.charAt(out.length - 1).isWhitespace)
              out.setLength(out.length - 1)
            out.append(", ").append(rightTxt).append(')')
            i = rEnd
          case _ => out.append(word)
        }
      } else {
        out.append(c); i += 1
      }
    }
    out.toString
  }

  /** End index (exclusive) of the atom starting at `from` (whitespace
    * skipped): optional unary sign, then a string literal, paren
    * group, number, or identifier chain with an optional call-argument
    * group. Used to capture the RIGHT operand of infix rewrites
    * (`^` power, `SIMILAR TO`).
    */
  private def scanAtom(sql: String, from: Int): Int = {
    val n = sql.length
    var p = from
    while (p < n && sql.charAt(p).isWhitespace) p += 1
    if (p < n && (sql.charAt(p) == '-' || sql.charAt(p) == '+')) p += 1
    while (p < n && sql.charAt(p).isWhitespace) p += 1
    if (p >= n) fail("an infix operator at end of input", "check the expression")
    val c0 = sql.charAt(p)
    if (c0 == '\'') closeString(sql, p)
    else if (c0 == '(') closeDelim(sql, p, '(', ')')
    else if (c0.isDigit || c0 == '.') {
      while (p < n && (sql.charAt(p).isLetterOrDigit || sql.charAt(p) == '.')) p += 1
      p
    } else if (c0.isLetter || c0 == '_' || c0 == '"' || c0 == '`') {
      if (c0 == '"') p = closeQuoted(sql, p)
      else if (c0 == '`') { p += 1; while (p < n && sql.charAt(p) != '`') p += 1; p += 1 }
      else while (p < n && (sql.charAt(p).isLetterOrDigit || sql.charAt(p) == '_' ||
        sql.charAt(p) == '.')) p += 1
      if (p < n && sql.charAt(p) == '(') closeDelim(sql, p, '(', ')') else p
    } else fail(s"an infix operator followed by '$c0'", "check the expression")
  }

  /** Start of the LEFT operand for the power rewrite: [[operandStart]]
    * extended to absorb a UNARY sign — DuckDB's unary minus binds
    * tighter than `^` (`-2 ^ 2` = 4), unlike the `::` cast (which
    * binds tighter than the sign), so only the power path wants this.
    */
  private def powerOperandStart(out: StringBuilder): Int = {
    val start = operandStart(out)
    var k = start - 1
    while (k >= 0 && out.charAt(k).isWhitespace) k -= 1
    if (k >= 0 && (out.charAt(k) == '-' || out.charAt(k) == '+')) {
      var j = k - 1
      while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
      val unary =
        if (j < 0) true
        else {
          val pc = out.charAt(j)
          if (pc.isLetterOrDigit || pc == '_') {
            // a word before the sign: unary after keywords (SELECT -2),
            // binary after identifiers/numbers (x - 2)
            NonOperandKeywords.contains(trailingWordAt(out, j + 1).toLowerCase)
          } else pc != ')' && pc != ']' && pc != '\'' && pc != '`' && pc != '"'
        }
      if (unary) k else start
    } else start
  }

  /** [[trailingWord]] at an arbitrary end position. */
  private def trailingWordAt(out: StringBuilder, end0: Int): String = {
    var end = end0
    while (end > 0 && out.charAt(end - 1).isWhitespace) end -= 1
    var j = end - 1
    while (j >= 0 && (out.charAt(j).isLetterOrDigit || out.charAt(j) == '_')) j -= 1
    out.substring(j + 1, end)
  }

  /** Glob pattern → regex: `*` → `.*`, `?` → `.`, `[ab]`/`[!ab]`
    * classes kept (negation respelled `^`), everything else escaped
    * literally. DuckDB 1.0-verified: case-sensitive, `.` literal,
    * `[*]` escapes the star.
    */
  private def globToRegex(p: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      c match {
        case '*' => out.append(".*")
        case '?' => out.append('.')
        case '[' =>
          var j = i + 1
          val neg = j < p.length && p.charAt(j) == '!'
          if (neg) j += 1
          out.append('[').append(if (neg) "^" else "")
          // a leading ] is a literal member of the class
          var first = true
          while (j < p.length && (p.charAt(j) != ']' || first)) {
            val cc = p.charAt(j)
            if (cc == '\\' || cc == '^' || (cc == '[' )) out.append('\\')
            out.append(cc)
            first = false
            j += 1
          }
          out.append(']')
          i = j
        case ch if "\\.^$+(){}|".indexOf(ch) >= 0 => out.append('\\').append(ch)
        case ch => out.append(ch)
      }
      i += 1
    }
    out.toString
  }

  /** Split a trailing in-args `IGNORE NULLS` / `RESPECT NULLS` off an
    * argument list: returns (args without it, " IGNORE NULLS"-style
    * postfix or "").
    */
  private def splitNullsMode(inner: String): (String, String) = {
    val NullsRe = "(?is)^(.*?)\\s+(ignore|respect)\\s+nulls\\s*$".r
    inner match {
      case NullsRe(rest, mode) => (rest, s" ${mode.toUpperCase} NULLS")
      case _                   => (inner, "")
    }
  }

  /** Position of a top-level in-args `ORDER BY` (the word ORDER with
    * BY as the immediately following word), or -1.
    */
  private def orderByPos(s: String): Int = {
    val p = findTopLevelWord(s, 0, Set("order"))
    if (p < 0) -1
    else {
      val after = p + "order".length
      val b = findTopLevelWord(s, after, Set("by"))
      if (b >= 0 && s.substring(after, b).forall(_.isWhitespace)) p else -1
    }
  }

  private case class OrderKey(expr: String, desc: Boolean, nullsFirst: Boolean)

  /** Parse `ORDER BY k1 [ASC|DESC] [NULLS FIRST|LAST], k2 ...` into
    * raw-text keys with their direction and null placement (DuckDB
    * defaults: ASC, NULLS LAST in both directions).
    */
  private def parseOrderKeys(spec: String): Seq[OrderKey] = {
    val byPos = findTopLevelWord(spec, 0, Set("by"))
    val NullsRe = "(?is)^(.*?)\\s+nulls\\s+(first|last)\\s*$".r
    val DirRe   = "(?is)^(.*?)\\s+(asc|desc)\\s*$".r
    splitTopLevel(spec.substring(byPos + 2)).map { seg0 =>
      var seg        = seg0.trim
      var nullsFirst = false
      seg match {
        case NullsRe(rest, dir) =>
          nullsFirst = dir.equalsIgnoreCase("first"); seg = rest.trim
        case _ =>
      }
      var desc = false
      seg match {
        case DirRe(rest, d) => desc = d.equalsIgnoreCase("desc"); seg = rest.trim
        case _ =>
      }
      if (seg.isEmpty) fail("an empty ORDER BY key", "check the ordered-aggregate syntax")
      OrderKey(seg, desc, nullsFirst)
    }
  }

  /** The ordered-collect composition: collect `(keys..., value)`
    * structs, sort with an explicit multi-key comparator, unwrap the
    * value. The struct wrapper keeps NULL values (collect_list drops
    * bare NULLs; DuckDB's list does not).
    */
  private def orderedCollect(value: String, keys: Seq[OrderKey]): String = {
    val fields = keys.zipWithIndex.map { case (k, ix) =>
      s"'__o$ix', ${rewriteTokens(k.expr).trim}"
    } :+ s"'__v', $value"
    s"transform(array_sort(collect_list(named_struct(${fields.mkString(", ")})), " +
      s"(__l, __r) -> ${cmpText(keys)}), __s -> __s.__v)"
  }

  /** Nested-CASE comparator over the `__oN` struct fields, encoding
    * per-key direction and null placement.
    */
  private def cmpText(keys: Seq[OrderKey]): String = {
    def arm(ix: Int): String =
      if (ix == keys.length) "0"
      else {
        val k = keys(ix)
        val l = s"__l.__o$ix"
        val r = s"__r.__o$ix"
        val (lt, gt) = if (k.desc) ("1", "-1") else ("-1", "1")
        val (ln, rn) = if (k.nullsFirst) ("-1", "1") else ("1", "-1")
        s"CASE WHEN $l IS NULL AND $r IS NULL THEN ${arm(ix + 1)} " +
          s"WHEN $l IS NULL THEN $ln WHEN $r IS NULL THEN $rn " +
          s"WHEN $l < $r THEN $lt WHEN $l > $r THEN $gt ELSE ${arm(ix + 1)} END"
      }
    arm(0)
  }

  /** DuckDB/fmt `{}`-style format string → java.util.Formatter codes:
    * `{}` → %s, `{N}` → %N+1$s, `{[N]:[width][.prec][d|s|f]}` maps
    * positionally; `{{`/`}}` unescape, bare `%` doubles. Anything
    * fancier raises with porting guidance.
    */
  private def fmtToPrintf(f: String): (String, Set[Int]) = {
    val out = new StringBuilder
    val SpecRe = "^(\\d+)?(\\.\\d+)?([dsf])?$".r
    val doubleArgs = scala.collection.mutable.Set[Int]()
    var auto = 0
    var i = 0
    while (i < f.length) {
      val c = f.charAt(i)
      if (c == '{') {
        if (i + 1 < f.length && f.charAt(i + 1) == '{') { out.append('{'); i += 2 }
        else {
          val e = f.indexOf('}', i)
          if (e < 0) fail("format() with an unterminated '{'", "check the format string")
          val body = f.substring(i + 1, e)
          val (posPart, specPart) = body.indexOf(':') match {
            case -1 => (body, "")
            case p  => (body.substring(0, p), body.substring(p + 1))
          }
          if (!posPart.forall(_.isDigit))
            fail(s"format() placeholder '{$body}'",
              "only {}, {N} and {[N]:[width][.prec][dsf]} translate; port to printf")
          val argIx = if (posPart.isEmpty) { val a = auto; auto += 1; a }
                      else posPart.toInt
          val pos = if (posPart.isEmpty) "" else s"${posPart.toInt + 1}$$"
          specPart match {
            case SpecRe(w, p2, t) =>
              val conv = Option(t).getOrElse("s")
              if (conv == "f") doubleArgs += argIx
              out.append('%').append(pos).append(Option(w).getOrElse(""))
                .append(Option(p2).getOrElse("")).append(conv)
            case _ =>
              fail(s"format() spec '{$body}'",
                "only {}, {N} and {[N]:[width][.prec][dsf]} translate; port to printf")
          }
          i = e + 1
        }
      } else if (c == '}' && i + 1 < f.length && f.charAt(i + 1) == '}') {
        out.append('}'); i += 2
      } else if (c == '%') { out.append("%%"); i += 1 }
      else { out.append(c); i += 1 }
    }
    (out.toString, doubleArgs.toSet)
  }

  private def fail(construct: String, hint: String): Nothing =
    throw new IllegalArgumentException(
      s"DuckDB $construct has no mechanical Spark SQL rewrite - $hint " +
        "(see docs/sql-dialect.md)")

  /** Index just past the closing `'` (handles `''` escapes). */
  private def closeString(sql: String, i: Int): Int = {
    var j = i + 1
    while (j < sql.length) {
      if (sql.charAt(j) == '\'') {
        if (j + 1 < sql.length && sql.charAt(j + 1) == '\'') j += 2
        else return j + 1
      } else j += 1
    }
    sql.length
  }

  /** Index just past the closing `"` (handles `""` escapes). */
  private def closeQuoted(sql: String, i: Int): Int = {
    var j = i + 1
    while (j < sql.length) {
      if (sql.charAt(j) == '"') {
        if (j + 1 < sql.length && sql.charAt(j + 1) == '"') j += 2
        else return j + 1
      } else j += 1
    }
    sql.length
  }

  /** Index just past the `close` matching the `open` at `i`,
    * skipping string literals. An unclosed group raises with guidance
    * — every caller slices `(i+1, end-1)`, which would crash or
    * silently mangle on malformed input otherwise.
    */
  private def closeDelim(sql: String, i: Int, open: Char, close: Char): Int = {
    var depth = 0
    var j     = i
    while (j < sql.length) {
      val c = sql.charAt(j)
      if (c == '\'') j = closeString(sql, j) - 1
      else if (c == open) depth += 1
      else if (c == close) { depth -= 1; if (depth == 0) return j + 1 }
      j += 1
    }
    fail(s"an unclosed '$open'", "check balanced delimiters")
  }

  /** Position of a top-level single `:` (slice separator) in a
    * subscript body, or -1; `::` casts and nested/quoted colons are
    * not separators.
    */
  private def topLevelColon(s: String): Int = {
    var depthP = 0; var depthB = 0
    var j      = 0
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == '\'') j = closeString(s, j) - 1
      else if (c == '(' || c == '{') depthP += 1
      else if (c == ')' || c == '}') depthP -= 1
      else if (c == '[') depthB += 1
      else if (c == ']') depthB -= 1
      else if (c == ':' && depthP == 0 && depthB == 0) {
        if (j + 1 < s.length && s.charAt(j + 1) == ':') j += 1 // skip cast
        else if (j > 0 && s.charAt(j - 1) == ':') ()           // tail of cast
        else return j
      }
      j += 1
    }
    -1
  }

  /** Count of depth-0 commas in an argument list (parens, brackets and
    * strings respected) — distinguishes call arities for arg-count-
    * sensitive rewrites.
    */
  private def topLevelCommas(s: String): Int = {
    var depth = 0
    var count = 0
    var j     = 0
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == '\'') j = closeString(s, j) - 1
      else if (c == '(' || c == '[' || c == '{') depth += 1
      else if (c == ')' || c == ']' || c == '}') depth -= 1
      else if (c == ',' && depth == 0) count += 1
      j += 1
    }
    count
  }

  /** Split an argument list on depth-0 commas (parens, brackets and
    * strings respected).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var start = 0
    var j     = 0
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == '\'') j = closeString(s, j) - 1
      else if (c == '(' || c == '[' || c == '{') depth += 1
      else if (c == ')' || c == ']' || c == '}') depth -= 1
      else if (c == ',' && depth == 0) { parts += s.substring(start, j); start = j + 1 }
      j += 1
    }
    parts += s.substring(start)
    parts.toSeq
  }

  private def prevSignificant(out: StringBuilder): Char = {
    var j = out.length - 1
    while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
    if (j >= 0) out.charAt(j) else ' '
  }

  private def nextSignificant(sql: String, i: Int): Char = {
    var j = i
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    if (j < sql.length) sql.charAt(j) else ' '
  }

  /** Remove `word` (plus any whitespace after it) from the end of the
    * emitted text — the caller consumed it as a prefix keyword
    * (`ARRAY [...]`, `MAP {...}`).
    */
  private def dropTrailingWord(out: StringBuilder, word: String): Unit = {
    var end = out.length
    while (end > 0 && out.charAt(end - 1).isWhitespace) end -= 1
    out.setLength(end - word.length)
  }

  /** The identifier word the emitted text ends with (empty when it
    * ends with something else).
    */
  private def trailingWord(out: StringBuilder): String = {
    var end = out.length
    while (end > 0 && out.charAt(end - 1).isWhitespace) end -= 1
    var j = end - 1
    while (j >= 0 && (out.charAt(j).isLetterOrDigit || out.charAt(j) == '_')) j -= 1
    out.substring(j + 1, end)
  }

  /** Start index (in `out`) of the trailing operand — the expression a
    * postfix `::TYPE` or `[i]` applies to: a balanced `(...)`/`[...]`
    * group plus any function-name / qualified-name prefix, a quoted
    * name, a string literal, or an identifier/number chain.
    */
  private def operandStart(out: StringBuilder): Int = {
    var end = out.length - 1
    while (end >= 0 && out.charAt(end).isWhitespace) end -= 1
    if (end < 0) return 0

    def atomStart(j0: Int): Int = {
      val ch = out.charAt(j0)
      if (ch == ')' || ch == ']') {
        val open  = if (ch == ')') '(' else '['
        var depth = 0
        var k     = j0
        while (k >= 0) {
          val cc = out.charAt(k)
          if (cc == ch) depth += 1
          else if (cc == open) { depth -= 1; if (depth == 0) return k }
          k -= 1
        }
        0
      } else if (ch == '\'' || ch == '`') {
        var k = j0 - 1
        while (k >= 0 && out.charAt(k) != ch) k -= 1
        math.max(k, 0)
      } else if (ch.isLetterOrDigit || ch == '_' || ch == '.') {
        var k = j0
        while (k >= 0 && (out.charAt(k).isLetterOrDigit || out.charAt(k) == '_' ||
          out.charAt(k) == '.')) k -= 1
        k + 1
      } else j0 + 1 // after an operator: empty operand position
    }

    var start = atomStart(end)
    // absorb function-name prefixes (`split(...)` / `arr[...]` chains)
    // and field access on a group result (`f(...).l` — the identifier
    // walk stops at the `)`, leaving start on the `.`)
    var done = false
    while (!done && start > 0) {
      val c  = out.charAt(start)
      val pc = out.charAt(start - 1)
      if ((c == '(' || c == '[') && (pc.isLetterOrDigit || pc == '_' || pc == '`'))
        start = atomStart(start - 1)
      else if (c == '.' && (pc == ')' || pc == ']' || pc == '`'))
        start = atomStart(start - 1)
      else done = true
    }
    start
  }
}
