package graft.sql

import graft.catalog.BucketCatalog
import graft.core.TimeBucketKey
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, unix_timestamp}
import java.time.{LocalDate, LocalDateTime, ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Try

/** Marketstore-dialect SQL on Spark SQL.
  *
  * The reference's SQL layer (sqlparser/executablestatement.go:96-141)
  * supports exactly SELECT / INSERT INTO / EXPLAIN over backtick-quoted
  * TimeBucketKey table names, with string date literals in Epoch
  * predicates coerced to Unix nanos (CoerceToNumeric,
  * executablestatement.go:674-710). Spark-first translation: a THIN
  * textual rewrite (TBK names → registered temp views; Epoch-vs-date
  * comparisons → ns-precision integer compares) and then Spark SQL
  * executes the statement — which makes the dialect a strict superset
  * (joins / ORDER BY / GROUP BY / set ops, all rejected by the
  * reference's executor, simply work).
  */
class SqlService(spark: SparkSession, catalog: Option[BucketCatalog] = None) {

  private val mounts = mutable.Map[String, DataFrame]()

  /** Expose an arbitrary DataFrame under a TBK name (feeders/tests). */
  def mount(tbk: String, df: DataFrame): Unit = mounts(tbk) = df

  def sql(statement: String): DataFrame = {
    val stmt = statement.trim.stripSuffix(";").trim
    val upper = stmt.toUpperCase
    if (upper.startsWith("EXPLAIN "))
      explain(stmt.substring("EXPLAIN ".length))
    else if (upper.startsWith("INSERT "))
      insert(stmt)
    else udaSelect(stmt) match {
      case Some(df) => df
      case None => spark.sql(rewrite(stmt))
    }
  }

  // SELECT <uda>(args...) FROM <relation...> — one pipeline call as the
  // whole select list, the reference's UDA select-list execution
  // (sqlparser/selectrelation.go:466-584, "SRF" note :473-474: the agg
  // output REPLACES the relation output)
  private val UdaSelectRe =
    """(?is)^SELECT\s+([A-Za-z_]\w*)\s*\(([^()]*)\)\s+FROM\s+(.+)$""".r

  private def registry: Map[String, graft.functions.Uda] =
    catalog.map(c => graft.functions.AggRegistry.forCatalog(c))
      .getOrElse(graft.functions.AggRegistry.all)

  /** Route `SELECT uda(...) FROM rel [WHERE ...]` through the function
    * registry; anything else (grouping, aliases, multiple select
    * items) stays plain Spark SQL.
    */
  private def udaSelect(stmt: String): Option[DataFrame] = stmt match {
    case UdaSelectRe(name, args, rest)
        if registry.contains(name.toLowerCase) &&
          !rest.toUpperCase.contains("GROUP BY") =>
      val source = spark.sql(rewrite(s"SELECT * FROM $rest"))
      Some(graft.functions.AggRegistry.runGrouped(
        Seq(s"${name.toLowerCase}($args)"), source, Nil, registry))
    case _ => None
  }

  /** EXPLAIN <statement>: the parse tree as a one-column JSON result
    * named "explain-output", the reference's shape
    * (sqlparser/explainstatement.go:21-26 — each node marshalled to
    * JSON). Our thin dialect's "parse tree" is the statement type, the
    * referenced TBKs, and the rewritten Spark SQL; the Spark logical
    * plan rides along as the physical-plan view the reference lacks.
    */
  private def explain(stmt: String): DataFrame = {
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    val upper = stmt.toUpperCase
    node.put("Type",
      if (upper.startsWith("INSERT")) "InsertIntoStatement" else "SelectStatement")
    node.put("QueryText", stmt)
    val tables = node.putArray("Tables")
    TbkRe.findAllMatchIn(stmt).map(_.group(1)).toSeq.distinct.foreach(tables.add)
    stmt match {
      case InsertRe(tbkStr, colList, select) =>
        node.put("TableName", tbkStr)
        val aliases = node.putArray("ColumnAliases")
        Option(colList).toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty).foreach(aliases.add)
        node.put("RewrittenSQL", rewrite(select))
      case _ =>
        val rw = rewrite(stmt)
        node.put("RewrittenSQL", rw)
        // UDA select lists (SELECT tickcandler(...) FROM ...) are not
        // Spark SQL — they explain as their statement node only, like
        // the reference's parse-tree-only output
        stmt match {
          case UdaSelectRe(name, _, _) if registry.contains(name.toLowerCase) =>
            node.put("UdaCall", name.toLowerCase)
          case _ =>
            node.put("SparkPlan",
              spark.sql(rw).queryExecution.explainString(
                org.apache.spark.sql.execution.SimpleMode))
        }
    }
    Seq(om.writeValueAsString(node)).toDF("explain-output")
  }

  private val InsertRe =
    """(?is)^INSERT\s+INTO\s+`([^`]+)`\s*(?:\(([^)]*)\))?\s*(SELECT\b.*)$""".r

  /** INSERT INTO `TBK` [(col, ...)] SELECT ... : project the select
    * output onto the destination columns and upsert with the bucket's
    * fixed/variable slot semantics. Target columns are the explicit
    * column list when given, else the bucket's declared columns —
    * select output missing any of them errors, exactly the reference's
    * alias mapping (sqlparser/insertintostatement.go:62-100).
    *
    * Returns the reference's response shape: one row of
    * (Epoch = now, "Rows Written") (insertintostatement.go:117-123).
    */
  private def insert(stmt: String): DataFrame = {
    stmt match {
      case InsertRe(tbkStr, colList, select) =>
        val cat = catalog.getOrElse(
          throw new IllegalArgumentException("INSERT requires a BucketCatalog"))
        val tbk = TimeBucketKey.parse(tbkStr)
        val raw = spark.sql(rewrite(select))
        val targets: Seq[String] =
          Option(colList).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Try(cat.getInfo(tbk.attGroup)).toOption match {
              case Some((schema, variable)) =>
                val declared = schema.fieldNames.toSeq
                val withEpoch =
                  if (declared.contains("Epoch")) declared else "Epoch" +: declared
                // variable buckets may omit Nanoseconds (write adds 0)
                if (variable && !raw.columns.contains("Nanoseconds"))
                  withEpoch.filterNot(_ == "Nanoseconds")
                else withEpoch
              // bucket not created yet: auto-create from the select shape
              case None => raw.columns.toSeq
            })
        val missing = targets.filterNot(raw.columns.contains)
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"Unable to find these columns: ${missing.mkString(", ")} needed for INSERT " +
            s"into target table `$tbkStr`; use column aliases to select them")
        // rows inserted = rows the SELECT produced, observed where the
        // SELECT runs (CollectMetrics rides the plan into the catalog,
        // which caches the batch and evaluates it once, in its metadata
        // pass; the merge and the staged write read the cache) — the
        // SELECT executes exactly once per INSERT. Safe here: INSERT
        // runs on a user thread, where the batch
        // QueryExecutionListener backing Observation fires.
        val obs = org.apache.spark.sql.Observation()
        val result = raw.select(targets.map(col): _*)
          .observe(obs, count(lit(1)).as("rows"))
        cat.write(tbk, result)
        val n = obs.get("rows").asInstanceOf[Long]
        spark.range(1).select(
          unix_timestamp().as("Epoch"), lit(n.toFloat).as("Rows Written"))
      case _ =>
        throw new IllegalArgumentException(s"unsupported INSERT statement: $stmt")
    }
  }

  // `SYM/TF/AttGroup` (three /-separated segments, as keytypes.go:23)
  private val TbkRe = "`([^`/]+/[^`/]+/[^`/]+)`".r

  /** Register every referenced TBK as a temp view and rewrite date
    * literals; returns the executable Spark SQL text.
    */
  private def rewrite(stmt: String): String = {
    var anyNanos = false
    var out = TbkRe.replaceAllIn(stmt, m => {
      val tbkStr = m.group(1)
      val df = mounts.getOrElse(tbkStr, {
        val cat = catalog.getOrElse(
          throw new IllegalArgumentException(s"unknown table: `$tbkStr`"))
        cat.read(TimeBucketKey.parse(tbkStr))
      })
      if (df.columns.contains("Nanoseconds")) anyNanos = true
      val view = "tbk_" + tbkStr.replaceAll("[^A-Za-z0-9]", "_")
      df.createOrReplaceTempView(view)
      scala.util.matching.Regex.quoteReplacement(view)
    })
    out = SqlService.rewriteDatePredicates(out, anyNanos)
    out
  }
}

object SqlService {

  /** The reference's 5 accepted date-literal layouts
    * (executablestatement.go CoerceToNumeric), parsed in UTC like Go's
    * time.Parse; result is Unix nanos.
    */
  def parseDateLiteralNs(s: String): Option[Long] = {
    def ldt(pattern: String): Option[Long] = Try {
      LocalDateTime.parse(s, DateTimeFormatter.ofPattern(pattern))
        .toInstant(ZoneOffset.UTC)
    }.toOption.map(i => i.getEpochSecond * 1000000000L + i.getNano)
    def zdt(pattern: String): Option[Long] = Try {
      ZonedDateTime.parse(s, DateTimeFormatter.ofPattern(pattern))
        .toInstant
    }.toOption.map(i => i.getEpochSecond * 1000000000L + i.getNano)
    def ld(pattern: String): Option[Long] = Try {
      LocalDate.parse(s, DateTimeFormatter.ofPattern(pattern))
        .atStartOfDay.toInstant(ZoneOffset.UTC)
    }.toOption.map(i => i.getEpochSecond * 1000000000L + i.getNano)
    ldt("uuuu-MM-dd-HH:mm:ss.SSSSSSSS")
      .orElse(zdt("uuuu-MM-dd-HH:mm:ss zzz"))
      .orElse(ldt("uuuu-MM-dd-HH:mm:ss"))
      .orElse(ldt("uuuu-MM-dd-HH:mm"))
      .orElse(ld("uuuu-MM-dd"))
  }

  private val CmpRe =
    """(?i)\b(?:([A-Za-z_]\w*)\s*\.\s*)?Epoch\s*(<=|>=|!=|<>|=|<|>)\s*'([^']+)'""".r
  private val BetweenRe =
    """(?i)\b(?:([A-Za-z_]\w*)\s*\.\s*)?Epoch\s+BETWEEN\s+'([^']+)'\s+AND\s+'([^']+)'""".r

  /** Epoch-vs-date-literal comparisons become ns-precision integer
    * compares: `[alias.]Epoch op '2024-01-02'` →
    * `([alias.]Epoch*1e9 [+ Nanoseconds]) op <unix_ns>` — exactly the
    * reference's nanosecond Epoch comparison semantics
    * (selectrelation.go Epoch+Nanoseconds special-casing). Literals
    * that don't parse as dates are left untouched.
    *
    * SARGABILITY: the ns expression is opaque to parquet stats, so each
    * rewrite also emits a REDUNDANT plain-`Epoch` conjunct implied by
    * the ns compare (`Epoch >= floor(ns/1e9)` for `>`/`>=`,
    * `Epoch <= floor(ns/1e9)` for `<`/`<=`, equality for `=`, both
    * bounds for BETWEEN; 0 ≤ Nanoseconds < 1e9 makes the implication
    * exact). Catalyst pushes the plain conjunct to the scan —
    * partition pruning + row-group skipping fire — while the ns
    * compare preserves the reference's sub-second semantics.
    */
  def rewriteDatePredicates(stmt: String, withNanos: Boolean): String = {
    def epochNs(alias: String): String = {
      val q = Option(alias).map(a => s"$a.").getOrElse("")
      if (withNanos) s"(${q}Epoch * 1000000000 + ${q}Nanoseconds)"
      else s"(${q}Epoch * 1000000000)"
    }
    def epochCol(alias: String): String =
      Option(alias).map(a => s"$a.").getOrElse("") + "Epoch"
    def sargable(alias: String, op: String, ns: Long): String = {
      val s = Math.floorDiv(ns, 1000000000L)
      op match {
        case ">" | ">=" => s" AND ${epochCol(alias)} >= ${s}L"
        case "<" | "<=" => s" AND ${epochCol(alias)} <= ${s}L"
        case "="        => s" AND ${epochCol(alias)} = ${s}L"
        case _          => "" // != / <> — no useful bound
      }
    }
    val afterBetween = BetweenRe.replaceAllIn(stmt, m => {
      (parseDateLiteralNs(m.group(2)), parseDateLiteralNs(m.group(3))) match {
        case (Some(lo), Some(hi)) =>
          val sLo = Math.floorDiv(lo, 1000000000L)
          val sHi = Math.floorDiv(hi, 1000000000L)
          scala.util.matching.Regex.quoteReplacement(
            s"(${epochNs(m.group(1))} BETWEEN ${lo}L AND ${hi}L" +
              s" AND ${epochCol(m.group(1))} BETWEEN ${sLo}L AND ${sHi}L)")
        case _ => scala.util.matching.Regex.quoteReplacement(m.matched)
      }
    })
    CmpRe.replaceAllIn(afterBetween, m => {
      parseDateLiteralNs(m.group(3)) match {
        case Some(ns) =>
          scala.util.matching.Regex.quoteReplacement(
            s"(${epochNs(m.group(1))} ${m.group(2)} ${ns}L" +
              sargable(m.group(1), m.group(2), ns) + ")")
        case None => scala.util.matching.Regex.quoteReplacement(m.matched)
      }
    })
  }
}
