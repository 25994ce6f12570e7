package graft.core

/** Three-level bucket key `Symbol/Timeframe/AttributeGroup`.
  *
  * Mirrors the reference's TimeBucketKey (reference:
  * utils/io/keytypes.go:13-35, default category schema
  * "Symbol/Timeframe/AttributeGroup" at :23). In this engine a TBK does
  * not address a file — it resolves to (attributeGroup table, partition
  * predicates on symbol/timeframe), so Catalyst partition pruning
  * replaces the reference's catalog directory descent
  * (catalog/catalog.go:43-116).
  */
final case class TimeBucketKey(symbol: String, timeframe: String, attGroup: String) {
  def key: String = s"$symbol/$timeframe/$attGroup"
  /** View-safe name for SQL registration (backticked TBKs). */
  def viewName: String = key.replaceAll("[^A-Za-z0-9]", "_")
}

object TimeBucketKey {
  // symbols/timeframes/groups become partition directory names and
  // manifest JSON fields, and wire clients control them — restrict to the
  // reference's practical alphabet (BRK.A-style dots, dashes, plus the
  // query surface's ',' lists and '*'/'?' globs). Anything else (quotes,
  // backslashes, spaces, path separators) is rejected at the door.
  private val Level = "^[A-Za-z0-9._,*?-]+$".r

  /** Parse "AAPL/1Min/OHLCV". Multi-symbol query strings
    * ("A,B,C/1Min/OHLCV", frontend/query.go:159-173) are expanded by
    * [[expand]].
    */
  def parse(s: String): TimeBucketKey = s.split("/") match {
    case Array(sym, tf, ag) =>
      Seq(sym, tf, ag).foreach { lvl =>
        if (!Level.matches(lvl)) throw new IllegalArgumentException(
          s"TimeBucketKey level '$lvl' has characters outside [A-Za-z0-9._,*?-]: $s")
      }
      TimeBucketKey(sym, tf, ag)
    case _ => throw new IllegalArgumentException(
      s"TimeBucketKey must have 3 '/'-separated levels: $s")
  }

  /** Expand a comma-separated symbol list into one key per symbol
    * (reference: frontend/query.go:159-173; `*` wildcard is resolved by
    * the catalog at query time).
    */
  def expand(s: String): Seq[TimeBucketKey] = {
    val k = parse(s)
    k.symbol.split(",").toIndexedSeq.map(sym => k.copy(symbol = sym.trim))
  }
}
