package graft.graph

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One keyed table of a [[GraphStore]] (nodes, edges or an embedding side
  * table): a pinned BASE frame plus a small DRIVER-RESIDENT DELTA — the
  * rows upserted since the base was pinned (`rows`, by key) and the keys
  * whose base row the delta hides (`shadow`: deleted or replaced).
  * Readers see the base rows whose key the delta does not name (one
  * literal IN filter) ∪ the delta rows (a local relation), so planning a
  * read runs no job and a point write moves only its own rows. Values are
  * immutable: a write builds a new overlay and the store swaps it in.
  *
  * Row counts are kept per group — the key's second column (the embedding
  * name) when it has one, else one group "" — as the base's counts plus
  * what the delta adds and hides.
  */
private[graph] final case class Overlay(base: Overlay.Base, schema: StructType,
    rows: Map[Seq[String], Row], shadow: Set[Seq[String]]) {
  import Overlay._

  def keyCols: Seq[String] = base.keyCols
  private lazy val keyIdx = keyCols.map(schema.fieldIndex)
  def key(r: Row): Seq[String] = keyIdx.map(r.getString)
  def inDelta(k: Seq[String]): Boolean = rows.contains(k) || shadow(k)

  /** Keys the delta holds: what a fold would absorb. */
  def size: Int = (rows.keySet ++ shadow).size

  /** Base rows whose key the delta does not name, widened to `schema`. */
  private def baseView: DataFrame = {
    val b = base.df
    val widened =
      if (b.columns.sameElements(schema.fieldNames)) b
      else b.select(schema.map(f =>
        if (b.columns.contains(f.name)) b(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    val hidden = rows.keySet ++ shadow
    if (hidden.isEmpty) widened else widened.filter(!keyIn(keyCols, hidden))
  }

  /** The table as readers see it. */
  lazy val frame: DataFrame =
    if (rows.isEmpty) baseView else baseView.unionByName(local(rows.values))

  /** Base rows matching `cond` that the delta does not hide. */
  def baseWhere(cond: Column): DataFrame = baseView.filter(cond)

  /** `rs` (rows of `schema`) as a local relation: building it runs no job. */
  def local(rs: Iterable[Row]): DataFrame =
    base.df.sparkSession.createDataFrame(rs.toSeq.asJava, nullable(schema))

  private def pad(r: Row): Row =
    if (r.length == schema.length) r
    else Row.fromSeq(r.toSeq ++ Seq.fill(schema.length - r.length)(null))

  def count(group: String = ""): Long =
    base.counts.getOrElse(group, 0L) - shadow.count(groupOf(_) == group) +
      rows.keys.count(groupOf(_) == group)

  /** Current rows of `keys`: the delta's own, the rest from one point
    * probe on the base (remembered per base, so a second look at the same
    * keys — a MERGE's ON MATCH SET after its existence probe — runs none).
    */
  def lookup(keys: Iterable[Seq[String]]): Map[Seq[String], Row] = {
    val (mine, rest) = keys.toSet.partition(inDelta)
    mine.flatMap(k => rows.get(k).map(k -> _)).toMap ++
      base.rowsOf(rest).map { case (k, r) => k -> pad(r) }
  }

  /** Widen to the columns of `df` and project `df` onto the widened
    * schema: typed nulls for the columns it lacks, a cast where the types
    * differ (the store's type wins a clash).
    */
  def conform(df: DataFrame): (Overlay, DataFrame) = {
    val extra = df.schema.fields.filterNot(f => schema.fieldNames.contains(f.name))
    val t =
      if (extra.isEmpty) this
      else copy(schema = StructType(schema.fields ++ extra),
        rows = rows.map { case (k, r) => k -> Row.fromSeq(r.toSeq ++ extra.map(_ => null)) })
    val aligned = df.select(t.schema.map { f =>
      if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      // catalogString ignores nullability: array<string> with a different
      // containsNull must NOT cast — Spark refuses the no-op cast
      else if (df.schema(f.name).dataType.catalogString != f.dataType.catalogString)
        col(f.name).cast(f.dataType).as(f.name)
      else col(f.name)
    }: _*)
    (t, aligned)
  }

  /** Upsert `rs` (rows of `schema`); `present(k)` says whether the table
    * held `k` before — it decides whether the key hides a base row.
    */
  def upsert(rs: Iterable[Row], present: Seq[String] => Boolean): Overlay = {
    val keyed = rs.map(r => key(r) -> r)
    copy(rows = rows ++ keyed,
      shadow = shadow ++ keyed.map(_._1).filter(k => !inDelta(k) && present(k)))
  }

  def delete(keys: Iterable[Seq[String]], present: Seq[String] => Boolean): Overlay =
    copy(rows = rows -- keys,
      shadow = shadow ++ keys.filter(k => !inDelta(k) && present(k)))

  /** Pin the read frame as the new base. */
  def fold(): Overlay = rebase(GraphStore.pin(frame, eager = false))

  /** `df` — the read frame, pinned or written out — as the new base. */
  def rebase(df: DataFrame): Overlay =
    Overlay(new Base(df, keyCols, pinned = true, if (base.countsKnown) Some(countsNow) else None),
      df.schema, Map.empty, Set.empty)

  private def countsNow: Map[String, Long] =
    (base.counts.keySet ++ rows.keys.map(groupOf)).map(g => g -> count(g)).toMap
}

private[graph] object Overlay {

  /** Delta keys a table holds before it folds: reads carry the delta as
    * a literal key set plus a local relation, so the bound keeps plans small.
    */
  val FoldRows = 256

  /** Probed rows a base remembers before its memo starts over. */
  private val MemoRows = 4 * FoldRows

  def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private def groupOf(k: Seq[String]): String = if (k.size > 1) k(1) else ""

  /** A base frame with its key columns; `pinned` when the store pinned it
    * (a fold or a WAL replay) rather than the caller handing it over.
    */
  final class Base(val df: DataFrame, val keyCols: Seq[String],
      val pinned: Boolean, known: Option[Map[String, Long]]) {
    // an empty local relation (a fresh store's table) is known empty
    @volatile private var counted = known.orElse(df.queryExecution.logical match {
      case l: LocalRelation if l.data.isEmpty => Some(Map.empty[String, Long])
      case _ => None
    })
    def countsKnown: Boolean = counted.isDefined

    /** Rows per group: carried through a fold, else counted once on demand. */
    def counts: Map[String, Long] = counted.getOrElse {
      val g = if (keyCols.size > 1) col(keyCols(1)) else lit("")
      val c = df.groupBy(g.cast("string")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counted = Some(c)
      c
    }

    private val memo = TrieMap.empty[Seq[String], Option[Row]]

    /** Base rows of `keys` (absent keys left out). */
    def rowsOf(keys: Set[Seq[String]]): Map[Seq[String], Row] = {
      val unknown = keys.filterNot(memo.contains)
      if (unknown.nonEmpty) {
        val idx = keyCols.map(df.schema.fieldIndex)
        val found = df.filter(keyIn(keyCols, unknown)).collect()
          .map(r => idx.map(r.getString) -> r).toMap
        if (memo.size + unknown.size > MemoRows) memo.clear()
        unknown.foreach(k => memo.put(k, found.get(k)))
        return keys.flatMap(k => found.get(k).orElse(memo.get(k).flatten).map(k -> _)).toMap
      }
      keys.flatMap(k => memo.get(k).flatten.map(k -> _)).toMap
    }
  }

  /** A table over a frame the caller hands the store. */
  def of(df: DataFrame, keyCols: Seq[String]): Overlay =
    Overlay(new Base(df, keyCols, pinned = false, known = None), df.schema, Map.empty, Set.empty)

  /** A table whose base is `df` pinned — by the first job that reads it
    * (a probe, a query, the WAL part that logs it), so the pin costs no
    * job of its own. Counted on first demand.
    */
  def pinned(df: DataFrame, keyCols: Seq[String]): Overlay = {
    val p = GraphStore.pin(df, eager = false)
    Overlay(new Base(p, keyCols, pinned = true, None), p.schema, Map.empty, Set.empty)
  }

  /** `keyCols` ∈ `keys`, false (never null) where a key column is null. */
  def keyIn(keyCols: Seq[String], keys: Iterable[Seq[String]]): Column = {
    val c = keyCols match {
      case Seq(k) => col(k).isInCollection(keys.map(_.head).toSeq)
      case Seq(k, g) => keys.groupBy(_(1)).map { case (n, ks) =>
          col(g) === n && col(k).isInCollection(ks.map(_.head).toSeq)
        }.reduce(_ || _)
    }
    coalesce(c, lit(false))
  }

  /** At most FoldRows + 1 rows of each partition of `df`, in one job
    * (none for a local relation).
    */
  private def capped(df: DataFrame): Seq[Row] = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => df.collect().toSeq
    case _ => df.mapPartitions(_.take(FoldRows + 1))(Encoders.row(df.schema)).collect().toSeq
  }

  /** The rows of `df` when there are at most [[FoldRows]] of them; None
    * for a larger batch.
    */
  def small(df: DataFrame): Option[Seq[Row]] = Some(capped(df)).filter(_.length <= FoldRows)

  /** The `id` column of every ask from ONE job (their union), each None
    * when it holds more than [[FoldRows]] ids.
    */
  def probeIds(asks: Seq[DataFrame]): Seq[Option[Seq[String]]] = {
    val got = capped(asks.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("_ask"), col("id")) }.reduce(_.unionByName(_)))
    asks.indices.map(i => Some(got.filter(_.getInt(0) == i).map(_.getString(1)))
      .filter(_.length <= FoldRows))
  }
}
