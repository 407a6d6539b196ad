package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Corpus versioning: apply a keyed changelog to a snapshot (CDC
  * merge / upsert) and diff two snapshot versions — the operators an
  * incrementally-maintained training corpus needs between full
  * rebuilds. Nothing here is reference-derived (the reference
  * regenerates outputs whole, `/root/reference/src/mr/worker.go`);
  * both are standard warehouse semantics re-expressed Spark-first.
  */
object Changelog {

  /** Merge a changelog into a snapshot: for each key, the log's
    * LATEST entry (by `seqCols`, compared lexicographically) wins —
    * an `op == deleteOp` entry removes the key, anything else
    * replaces (or inserts) the row's payload; keys the log never
    * touches pass through from the snapshot.
    *
    * Contract: `log` carries every non-key column of `snapshot`
    * (the post-image payload) plus `opCol` and `seqCols`; the seq
    * tuple is UNIQUE per key (a commit timestamp + a change id) and
    * non-null — ties would make "latest" arbitrary per run.
    *
    * Scale shape: latest-per-key is `groupBy(key).agg(max_by(payload,
    * seq))`, which partial-aggregates MAP-SIDE — a key changed a
    * million times in the log collapses before the exchange (the
    * window row_number formulation would serialize all million into
    * one sorted partition; see [[Dedup.incrementalExact]]'s trade-off
    * note for the same fork). The snapshot crosses ONE anti-join on
    * the key; with a typical log (≪ snapshot), the reduced latest
    * relation broadcasts under AQE and the 100 TB snapshot never
    * shuffles at all. The union is shuffle-free. The latest relation
    * feeds BOTH the anti-join keys and the union payload, so it is
    * [[PlanCache]]-pinned (keyed on the log plan + every shaping
    * parameter) rather than having the log scanned and collapsed
    * twice.
    */
  def applyLog(snapshot: DataFrame, log: DataFrame, keyCol: String,
               opCol: String, seqCols: Seq[String],
               deleteOp: String = "D"): DataFrame = {
    require(seqCols.nonEmpty, "applyLog needs at least one seq column")
    val payload = snapshot.columns.toIndexedSeq.filterNot(_ == keyCol)
    payload.foreach(c => require(log.columns.contains(c),
      s"log is missing snapshot payload column $c"))
    val carried = payload :+ opCol
    val tag = (Seq("changelog/latest", keyCol, opCol, deleteOp) ++
      seqCols ++ payload).mkString("/")
    val latest = PlanCache.cached(tag, log)(latestPerKey(_, keyCol, carried, seqCols))
    val untouched = snapshot.join(latest.select(keyCol), Seq(keyCol), "left_anti")
    untouched.unionByName(
      latest.where(col(opCol) =!= deleteOp).drop(opCol))
  }

  /** Merge one changelog BATCH into a standing keyed STORE — the
    * incremental step behind [[graft.streaming.StreamMerge]]'s
    * continuous upsert. Unlike [[applyLog]] (which produces the final
    * snapshot), the store is the full changelog-shaped relation — key,
    * payload, `opCol`, `seqCols` — with exactly one row per key:
    * each key's highest-seq entry seen so far, INCLUDING delete
    * tombstones. Keeping tombstones (with their seq) is what makes
    * the merge order-independent and idempotent:
    *
    *  - a late, lower-seq entry for a deleted key loses to the
    *    tombstone instead of resurrecting it;
    *  - re-applying any batch (the restart-replay case) re-offers
    *    entries the store already absorbed at equal-or-higher seq —
    *    a no-op by the max_by;
    *  - batches may arrive in ANY interleaving: the result is always
    *    latest-per-key over everything offered, i.e.
    *    `mergeBatch(mergeBatch(s, b1), b2) ≡ latest(s ∪ b1 ∪ b2)`.
    *
    * The serving snapshot is `store.where(op =!= deleteOp).drop(op,
    * seq...)` — read-side tombstone elision, compaction's job to
    * physically drop (a tombstone may be discarded once every replica
    * of the log below its seq is retired).
    *
    * Scale shape: the 100 TB store crosses ONE broadcast anti-join and
    * ONE broadcast semi-join on the batch's distinct keys
    * ([[storeWinners]] — the store itself never shuffles), and only the
    * TOUCHED store rows (batch-key-sized) meet the raw batch entries in
    * ONE max_by by key ([[batchWinners]]; the batch's latest-per-key
    * partial-aggregates map-side inside it). Same seq contract as
    * [[applyLog]]: the seqCols tuple is unique and non-null per entry.
    *
    * SCHEMA EVOLUTION is additive-only: a batch whose schema is a
    * SUPERSET of the store's (new columns appended mid-stream — the
    * way real lakes evolve) is accepted — the store side is
    * null-backfilled and the merged store adopts the wider schema —
    * while a batch MISSING a store column (narrowing) or carrying a
    * DRIFTED type on a shared column name fails loudly: silently
    * union-coercing `seq: long` against `seq: string` (or dropping a
    * payload column) would corrupt every later version. Column names
    * `__bk`/`__m` are reserved (join/agg temporaries).
    *
    * BROADCAST GUARD: the two store-side joins are "the store never
    * shuffles" only while the batch-keys side BROADCASTS, so the hint
    * is forced explicitly (never left to a size estimate AQE might
    * get wrong — an estimate above `autoBroadcastJoinThreshold` would
    * silently degrade to sort-merge-joining the 100 TB store). What a
    * forced hint cannot bound is driver/executor memory: a
    * pathological batch with more distinct keys than fit in one
    * broadcast would OOM instead, so `maxBroadcastKeys` (> 0) counts
    * the batch's distinct keys first — one cheap job over the (small,
    * typically persisted) batch side — and fails with "split the
    * batch" before building an undeliverable broadcast. 0 disables
    * the pre-count for callers that bound batch size upstream.
    */
  def mergeBatch(store: DataFrame, batch: DataFrame, keyCol: String,
                 opCol: String, seqCols: Seq[String],
                 maxBroadcastKeys: Long = 10000000L): DataFrame =
    storeWinners(store, batch, keyCol, seqCols, maxBroadcastKeys).merged

  /** [[mergeBatch]]'s schema evolution: the batch may ADD columns,
    * never drop one or drift a shared column's type. Returns the
    * widened column order (store order first, new batch columns
    * appended — the schema every later version and reader sees) and
    * the null-backfill that widens a store-shaped frame to it.
    */
  private def evolve(store: DataFrame,
                     batch: DataFrame): (Seq[String], DataFrame => DataFrame) = {
    val storeCols = store.columns.toIndexedSeq
    val batchCols = batch.columns.toIndexedSeq
    val narrowed = storeCols.filterNot(batchCols.contains)
    require(narrowed.isEmpty,
      s"batch narrows the store schema (missing: ${narrowed.mkString(",")}) — " +
        "evolution is additive-only: a batch may ADD columns, never drop them")
    val storeTypes = store.schema.fields.map(f => f.name -> f.dataType).toMap
    val drifted = batch.schema.fields
      .filter(f => storeTypes.get(f.name).exists(_ != f.dataType))
    require(drifted.isEmpty,
      "store/batch column types drifted: " + drifted.map(f =>
        s"${f.name} (store ${storeTypes(f.name).simpleString} vs " +
          s"batch ${f.dataType.simpleString})").mkString(", "))
    val cols = storeCols ++ batchCols.filterNot(storeCols.contains)
    Seq("__bk", "__m", Hit, Pre).foreach(t => require(!cols.contains(t),
      s"column name $t is reserved by mergeBatch's join/agg temporaries"))
    val batchTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    cols -> (df => cols.filterNot(storeCols.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast(batchTypes(c)))))
  }

  /** Latest-per-key: each `keyCol` group's `carried` columns from its
    * highest-`seqCols` row (one max_by, partial-aggregated map-side) —
    * the winner rule of [[applyLog]] and of [[batchWinners]] (and so
    * of every merge and view fold). With `preCols`, the rows flagged
    * `__pre` are the store's pre-image, and each group also collects
    * them, projected to `preCols`, into a `__pre` array (empty for a
    * key new to the store): the rows a view fold subtracts, gathered
    * by the same exchange that picks the winner.
    */
  private def latestPerKey(df: DataFrame, keyCol: String, carried: Seq[String],
                           seqCols: Seq[String], preCols: Seq[String] = Nil): DataFrame = {
    val pre = if (preCols.isEmpty) Nil
      else Seq(collect_list(when(col(Pre), struct(preCols.map(col): _*))).as(Pre))
    df.groupBy(col(keyCol))
      .agg(max_by(struct(carried.map(col): _*),
        struct(seqCols.toIndexedSeq.map(col): _*)).as("__m"), pre: _*)
      .select((col(keyCol) +: carried.map(c => col(s"__m.$c").as(c))) ++
        pre.map(_ => col(Pre)): _*)
  }

  /** Reserved temporaries of a view trigger's change: `__hit` tags the
    * pre-image rows whose key the batch changes ([[tagTouched]]; null
    * elsewhere), and `__pre` marks pre-image rows in the winners'
    * groupBy and then holds each winner's collected pre-image
    * ([[latestPerKey]]).
    */
  private val Hit = "__hit"
  private val Pre = "__pre"

  /** Tag each row of a store's touched-bucket pre-image `pre` with
    * whether `batch` changes its key, through ONE broadcast left-outer
    * join on the batch's distinct keys (null-safe, like [[byKey]]).
    * Persisted once, the tagged pre-image splits ([[splitTouched]])
    * into the rows a view trigger's winners compete with and the rows
    * its merge carries over untouched, with no further join.
    */
  private[graft] def tagTouched(pre: DataFrame, batch: DataFrame, keyCol: String): DataFrame = {
    Seq("__bk", Hit).foreach(t => require(!pre.columns.contains(t),
      s"column name $t is reserved by the touched-key tag"))
    pre.join(broadcast(batch.select(col(keyCol).as("__bk")).distinct()
      .withColumn(Hit, lit(true))), col(keyCol) <=> col("__bk"), "left_outer")
      .drop("__bk")
  }

  /** A [[tagTouched]] pre-image split into the rows whose key the batch
    * changes and the rest: [[batchWinners]]' two inputs.
    */
  private[graft] def splitTouched(tagged: DataFrame): (DataFrame, DataFrame) =
    (tagged.where(col(Hit).isNotNull).drop(Hit), tagged.where(col(Hit).isNull).drop(Hit))

  /** `df` joined (`how`) with the broadcast distinct `keys` (a frame
    * with a `keyCol` column). The comparison is NULL-SAFE (<=>):
    * groupBy treats null as one key, but a plain equi anti-join would
    * KEEP a store's null-key row (null never equals null in a join)
    * while the max_by independently emits the batch's null-key winner —
    * two rows for one key, compounding every batch. <=> is still an
    * equi-join key (hash-joinable; the plan pins hold), so null behaves
    * as an ordinary key end to end.
    */
  private def byKey(df: DataFrame, keys: DataFrame, keyCol: String, how: String): DataFrame = {
    require(!df.columns.contains("__bk"), "column name __bk is reserved by the key joins")
    df.join(broadcast(keys.select(col(keyCol).as("__bk"))), col(keyCol) <=> col("__bk"), how)
  }

  /** A batch's per-key WINNERS over a store. `rows` holds, per batch
    * key, the max_by over the key's store row and its batch entries, as
    * the full schema-widened row the merge commits — and, when built
    * for a view fold, with the `__pre` list of store rows the fold
    * subtracts. `untouched` holds the store rows no batch key touches.
    * Both carry the widened `cols`.
    */
  private[graft] final case class Winners(rows: DataFrame, untouched: DataFrame,
                                          keyCol: String, cols: Seq[String]) {
    /** The merged store: the untouched rows plus every winner. */
    def merged: DataFrame = {
      val c = cols.map(col)
      untouched.select(c: _*).unionByName(rows.select(c: _*))
    }
  }

  /** THE winner build — the one place a batch's per-key winners are
    * picked, for [[mergeBatch]], the view folds and a matview trigger
    * alike. `touched` and `untouched` split the store rows by whether
    * the batch changes their key, however the caller selected them
    * ([[storeWinners]]' broadcast joins, a trigger's [[splitTouched]]).
    * The touched rows and the raw batch entries meet in ONE groupBy by
    * key (the batch's latest-per-key partial-aggregates map-side inside
    * it), which picks each winner and, for view fold `f`, collects the
    * touched rows it replaces. Schema evolution as [[mergeBatch]]. Lazy:
    * a caller that reads `rows` twice persists them.
    */
  private[graft] def batchWinners(touched: DataFrame, untouched: DataFrame, batch: DataFrame,
                                  keyCol: String, seqCols: Seq[String],
                                  f: Option[ViewFold]): Winners = {
    require(seqCols.nonEmpty, "a merge needs at least one seq column")
    val (cols, widen) = evolve(touched, batch)
    val pre = f.toSeq.flatMap(needed(_, keyCol, cols, "store"))
    seqCols.foreach(c => require(cols.contains(c), s"batch missing column $c"))
    def rows(df: DataFrame, isPre: Boolean) =
      df.select(cols.map(col) :+ lit(isPre).as(Pre): _*)
    val winners = latestPerKey(rows(widen(touched), isPre = true)
      .unionByName(rows(batch, isPre = false)), keyCol, cols.filterNot(_ == keyCol),
      seqCols, pre)
    Winners(winners, widen(untouched), keyCol, cols)
  }

  /** The [[Winners]] of `batch` over a whole `store`: the store rows
    * split by ONE broadcast semi-join and ONE broadcast anti-join on the
    * batch's distinct keys ([[byKey]]; the two joins reuse one
    * broadcast), behind the broadcast guard.
    */
  private[graft] def storeWinners(store: DataFrame, batch: DataFrame, keyCol: String,
                                  seqCols: Seq[String], maxBroadcastKeys: Long,
                                  f: Option[ViewFold] = None): Winners = {
    val keys = batch.select(keyCol).distinct()
    val w = batchWinners(byKey(store, keys, keyCol, "left_semi"),
      byKey(store, keys, keyCol, "left_anti"), batch, keyCol, seqCols, f)
    requireBroadcastable(keys, maxBroadcastKeys, "batch")
    w
  }

  /** The broadcast guard: `keys` (one row per distinct key) above
    * `maxBroadcastKeys` (> 0; 0 = no cap) fails with "split the
    * `what`" before an undeliverable broadcast is built. One cheap
    * limit+count job.
    */
  private def requireBroadcastable(keys: DataFrame, maxBroadcastKeys: Long,
                                   what: String): Unit =
    if (maxBroadcastKeys > 0)
      require(keys.limit(math.min(maxBroadcastKeys + 1, Int.MaxValue).toInt)
        .count() <= maxBroadcastKeys,
        s"$what has more than $maxBroadcastKeys distinct keys — too large to " +
          s"broadcast against the store; split the $what (or raise maxBroadcastKeys)")

  /** One flavour of incrementally maintained dimensional aggregate —
    * `(dims..., n, sum)` plus whatever state the flavour keeps — and
    * the pieces of the ONE fold core ([[foldBatch]], [[foldWinners]],
    * [[foldPurge]]) that differ between flavours. Everything else is
    * shared: the pre-image/winner build, the signed delta rows, the ONE
    * union+groupBy by dims that folds them into the view state (the
    * flavour's delta aggregates ride along), and (for flavours with
    * state) the eager checkpoint + recompute-flag count + lazy
    * recompute tail.
    *
    * n and sum are SUM0 statistics on every flavour: a dimension whose
    * live rows all carry null values reads sum 0, never null. Plain
    * SUM would break the telescoping contract — deleting the only
    * non-null row leaves the fold at sum 0 (arithmetic cancellation)
    * while a bare recompute would say null. Oracle twins must
    * COALESCE(SUM(x), 0) the same way.
    */
  sealed trait ViewFold {
    def opCol: String
    def dims: Seq[String]
    def valCol: String
    def deleteOp: String
    def nCol: String
    def sumCol: String

    /** The full recompute over a changelog-shaped store — the seed and
      * the audit twin: at any point the folded view must equal this
      * over the current store.
      */
    def snapshot(store: DataFrame): DataFrame

    /** Aggregates this flavour adds to the fold's one exchange, over
      * the signed rows ([[side]]).
      */
    private[ext] def deltaAggs: Seq[Column] = Nil
    /** View-state columns beyond `(dims, n, sum)`. */
    private[ext] def stateCols: Seq[String] = Nil
    /** The merged frame's next state plus the `__rc` recompute flag. */
    private[ext] def step(merged: DataFrame, vt: DataType): DataFrame = merged
    /** The flagged dims' state recomputed from their post-fold live
      * `(__dk, valCol)` rows: `__dk`, then one column per
      * [[stateCols]] entry, in order, under its own name.
      */
    private[ext] def rebuilt(live: DataFrame): DataFrame = live
    /** The committed view's columns after `(dims, n, sum)`. */
    private[ext] def served(vt: DataType): Seq[Column] = stateCols.map(col)

    private[ext] def live(df: DataFrame): DataFrame =
      df.where(col(opCol) =!= deleteOp)
    private[ext] def groups(df: DataFrame) = df.groupBy(dims.map(col): _*)
    /** `(dims..., n, sum, extra...)` over the store's live rows. */
    private[ext] def liveAgg(store: DataFrame, extra: Column*): DataFrame =
      groups(live(store)).agg(count(lit(1)).as(nCol),
        sum0(col(valCol), store.schema(valCol).dataType).as(sumCol) +: extra: _*)
    /** The value on one side of the signed rows, null on the other
      * side's rows and on the view's.
      */
    private[ext] def side(sign: Int): Column = when(col("__sgn") === sign, col("__v"))
  }

  /** Count/sum: self-maintainable, so the fold is pure delta
    * arithmetic and stays LAZY (no checkpoint, no extra job).
    */
  final case class CountSum(opCol: String, dims: Seq[String], valCol: String,
                            deleteOp: String = "D", nCol: String = "n",
                            sumCol: String = "sum") extends ViewFold {
    def snapshot(store: DataFrame): DataFrame = liveAgg(store)
  }

  /** Count/sum plus boundary-exact MIN/MAX, with no hidden state. A
    * delete or downward update of the row holding a bound needs other
    * rows to answer, so per dimension:
    *
    *  - dims whose LEAVING values never tie a current bound fold
    *    self-maintainably: min' = least(min, entering min), max'
    *    likewise;
    *  - dims where a leaving value TIES a bound recompute min/max from
    *    their post-fold live rows — the store is bucketed by KEY, so
    *    that is a dim-filtered full-store scan, paid once per fold that
    *    actually retracts a bound. [[Sketch]] is the flavour that
    *    makes the scan rare instead.
    *
    * min/max are null iff the dim's live values are all null (MIN/MAX
    * skip nulls on both engines). A re-delivered batch may recompute
    * spuriously (its pre == winner ties the bound) but lands on
    * identical values.
    */
  final case class MinMax(opCol: String, dims: Seq[String], valCol: String,
                          deleteOp: String = "D", nCol: String = "n",
                          sumCol: String = "sum", minCol: String = "min",
                          maxCol: String = "max") extends ViewFold {
    def snapshot(store: DataFrame): DataFrame =
      liveAgg(store, min(col(valCol)).as(minCol), max(col(valCol)).as(maxCol))
    override private[ext] def deltaAggs = Seq(
      min(side(-1)).as("__lmn"), max(side(-1)).as("__lmx"),
      min(side(1)).as("__emn"), max(side(1)).as("__emx"))
    override private[ext] def stateCols = Seq(minCol, maxCol)
    // least/greatest skip nulls: an untouched dim keeps its bounds and
    // a new dim takes the entering ones. Leaving values are store
    // rows, so <=/>= against the OLD bound is equality in disguise;
    // null comparisons coalesce to false
    override private[ext] def step(merged: DataFrame, vt: DataType) =
      merged.select(dims.map(col) :+ col(nCol) :+ col(sumCol) :+
        least(col(minCol), col("__emn")).as(minCol) :+
        greatest(col(maxCol), col("__emx")).as(maxCol) :+
        coalesce(col("__lmn") <= col(minCol) || col("__lmx") >= col(maxCol),
          lit(false)).as("__rc"): _*)
    override private[ext] def rebuilt(live: DataFrame) =
      live.groupBy(col("__dk"))
        .agg(min(col(valCol)).as("__rmn"), max(col(valCol)).as("__rmx"))
  }

  /** Reserved state columns of the [[Sketch]] view: the k smallest
    * live values (sorted ascending), the k largest (sorted ascending,
    * served from the tail), and the two coverage thresholds — null
    * when the sketch is COMPLETE (covers every live non-null value of
    * its side), else the value beyond which live values are untracked.
    */
  val SketchCols: Seq[String] = Seq("__mns", "__mxs", "__mnt", "__mxt")

  /** Count/sum plus min/max served from a PER-DIM TOP-K VALUE SKETCH
    * kept as hidden [[SketchCols]] state. Per dim and side, leaving
    * live values pop out of the sketch (multiset diff — a leaver
    * beyond the threshold is simply absent), entering values within
    * coverage splice in, the sketch re-truncates to k, and ONLY a side
    * that drains empty while untracked live values remain rebuilds
    * from the post-fold live rows of that dim: at least k boundary
    * deletions per side between full-store reads, where [[MinMax]]
    * reads on every boundary retraction.
    *
    * Invariant (property-tested): the sketch is a sub-multiset of the
    * dim's live values holding every live value within its threshold,
    * so the served end is the true bound whenever the sketch is
    * non-empty, and the served view equals [[MinMax]]'s recompute.
    */
  final case class Sketch(opCol: String, dims: Seq[String], valCol: String,
                          k: Int, deleteOp: String = "D", nCol: String = "n",
                          sumCol: String = "sum", minCol: String = "min",
                          maxCol: String = "max") extends ViewFold {
    require(k >= 1, s"sketch k=$k must be positive")
    def snapshot(store: DataFrame): DataFrame = {
      val vt = store.schema(valCol).dataType
      liveAgg(store).withColumn("__dk", struct(dims.map(col): _*))
        .join(kSmallestLargest(live(store).select(struct(dims.map(col): _*)
          .as("__dk"), col(valCol)), valCol, k), Seq("__dk"), "left")
        .select(dims.map(col) ++ Seq(col(nCol), col(sumCol)) ++ served(vt): _*)
    }
    override private[ext] def deltaAggs = Seq(
      sort_array(collect_list(side(-1))).as("__lv"),
      sort_array(collect_list(side(1))).as("__ev"))
    override private[ext] def stateCols = SketchCols
    override private[ext] def step(merged: DataFrame, vt: DataType) = {
      val e = emptyArr(vt)
      // candidates land in their own columns FIRST — deriving state in
      // one chained pass would re-resolve a candidate against the
      // already-updated sketch column. Max side mirrored (arrays
      // ascending; the tail is the boundary)
      // pop the leavers, splice the enterers within the threshold
      def cand(sk: String, th: String, within: Column => Column) =
        sort_array(concat(multisetDiff(coalesce(col(sk), e), coalesce(col("__lv"), e)),
          coalesce(when(col(th).isNull, col("__ev"))
            .otherwise(filter(col("__ev"), within)), e)))
      merged.select(dims.map(col) :+ col(nCol) :+ col(sumCol) :+
          col("__mnt") :+ col("__mxt") :+
          cand("__mns", "__mnt", _ <= col("__mnt")).as("__mnc") :+
          cand("__mxs", "__mxt", _ >= col("__mxt")).as("__mxc"): _*)
        .select(dims.map(col) :+ col(nCol) :+ col(sumCol) :+
          when(size(col("__mnc")) > k, slice(col("__mnc"), 1, k))
            .otherwise(col("__mnc")).as("__mns") :+
          when(size(col("__mnc")) > k, element_at(col("__mnc"), k))
            .otherwise(col("__mnt")).as("__mnt") :+
          when(size(col("__mxc")) > k,
            slice(col("__mxc"), (size(col("__mxc")) - k + 1).cast("int"), lit(k)))
            .otherwise(col("__mxc")).as("__mxs") :+
          when(size(col("__mxc")) > k,
            element_at(col("__mxc"), (size(col("__mxc")) - k + 1).cast("int")))
            .otherwise(col("__mxt")).as("__mxt"): _*)
        // a side drains when its sketch is empty but untracked live
        // values remain (the threshold says truncated)
        .withColumn("__rc",
          (size(col("__mns")) === 0 && col("__mnt").isNotNull) ||
            (size(col("__mxs")) === 0 && col("__mxt").isNotNull))
    }
    override private[ext] def rebuilt(live: DataFrame) =
      kSmallestLargest(live, valCol, k)
        .toDF("__dk", "__rmns", "__rmxs", "__rmnt", "__rmxt")
    // serving ends (ANSI: element_at on an empty array throws, so
    // guard on size); a dim with no tracked value stores empty arrays
    override private[ext] def served(vt: DataType) = Seq(
      when(size(col("__mns")) > 0, element_at(col("__mns"), 1))
        .otherwise(lit(null).cast(vt)).as(minCol),
      when(size(col("__mxs")) > 0, element_at(col("__mxs"), -1))
        .otherwise(lit(null).cast(vt)).as(maxCol),
      coalesce(col("__mns"), emptyArr(vt)).as("__mns"),
      coalesce(col("__mxs"), emptyArr(vt)).as("__mxs"),
      col("__mnt"), col("__mxt"))
  }

  private def sum0(c: Column, t: DataType): Column = coalesce(sum(c), lit(0L).cast(t))

  private def emptyArr(vt: DataType): Column = array().cast(s"array<${vt.sql}>")

  /** Each dim's k smallest and k largest non-null values of `live`
    * `(__dk, valCol)` as [[SketchCols]]: two windows per dim — the
    * rebuild shuffle; per-dim depth is the skew contract, same class
    * as [[scd2]].
    */
  private def kSmallestLargest(live: DataFrame, valCol: String, k: Int): DataFrame = {
    val nn = live.where(col(valCol).isNotNull)
    def firstK1(order: Column, list: String, n: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__dk")).orderBy(order)
      nn.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= k + 1) // k+1: the (k+1)th proves truncation
        .groupBy(col("__dk"))
        .agg(sort_array(collect_list(col(valCol))).as(list), count(lit(1)).as(n))
    }
    firstK1(col(valCol).asc, "__sl", "__sn")
      .join(firstK1(col(valCol).desc, "__ll", "__ln"), Seq("__dk"))
      .select(col("__dk"),
        slice(col("__sl"), 1, k).as("__mns"),
        // largest: k+1 collected ascending; keep the LAST k
        when(col("__ln") > k, slice(col("__ll"), 2, k))
          .otherwise(col("__ll")).as("__mxs"),
        when(col("__sn") > k, element_at(col("__sl"), k)).as("__mnt"),
        when(col("__ln") > k, element_at(col("__ll"), 2)).as("__mxt"))
  }

  /** Remove each element of `xs` from sorted array `acc` ONCE
    * (multiset difference) — the retraction pop. Interpreted HOF fold
    * over two ≤(k + batch)-sized arrays on dim-bounded rows.
    */
  private def multisetDiff(acc0: Column, xs: Column): Column =
    aggregate(xs, acc0, (acc, x) => {
      val p = array_position(acc, x)
      when(p > 0,
        concat(slice(acc, lit(1), (p - 1).cast("int")),
          slice(acc, (p + 1).cast("int"), size(acc))))
        .otherwise(acc)
    })

  /** What one fold folds in: the changed `keys`, the store's PRE-image
    * rows for them, and the post-change WINNER rows — all
    * key-list-sized.
    */
  private final case class Change(f: ViewFold, keyCol: String, keys: DataFrame,
                                  pre: DataFrame, winner: DataFrame)

  /** The columns a fold of `f` reads from a changelog-shaped relation
    * with columns `cols` (plus `more`); fails on a missing one and on
    * the fold's reserved temporaries.
    */
  private def needed(f: ViewFold, keyCol: String, cols: Seq[String], what: String,
                     more: Seq[String] = Nil): Seq[String] = {
    require(f.dims.nonEmpty, "view maintenance needs at least one dimension column")
    val n = ((keyCol +: f.opCol +: more) ++ f.dims :+ f.valCol).distinct
    n.foreach(c => require(cols.contains(c), s"$what missing column $c"))
    Seq("__bk", "__m", "__sgn", "__v", "__dk", "__rc", Hit, Pre).foreach(t =>
      require(!n.contains(t), s"column name $t is reserved by view-maintenance temporaries"))
    n
  }

  /** The change `w` ([[batchWinners]]) carries for fold `f`: its keys,
    * its `__pre` lists unrolled, and the winners projected to what the
    * fold reads.
    */
  private def winnerChange(f: ViewFold, w: Winners): Change =
    Change(f, w.keyCol, w.rows.select(w.keyCol),
      w.rows.select(explode(col(Pre)).as(Pre)).select(s"$Pre.*"),
      w.rows.select(needed(f, w.keyCol, w.cols, "store").map(col): _*))

  /** [[storeWinners]] for view fold `f`, over `store` and `batch`
    * projected to the columns the fold reads: the winner is the max_by
    * [[mergeBatch]] commits, so the fold TELESCOPES, and a re-delivered
    * batch (all entries lose at equal seq) changes nothing. An additive
    * schema evolution elsewhere in the row is invisible here.
    */
  private def viewWinners(f: ViewFold, store: DataFrame, batch: DataFrame,
                          keyCol: String, seqCols: Seq[String],
                          maxBroadcastKeys: Long): Winners = {
    val n = needed(f, keyCol, store.columns, "store", seqCols)
    needed(f, keyCol, batch.columns, "batch", seqCols)
    storeWinners(store.select(n.map(col): _*), batch.select(n.map(col): _*), keyCol,
      seqCols, maxBroadcastKeys, Some(f))
  }

  /** A purge's change: the purged keys' pre-image with an EMPTY winner
    * side — so erasure is just a fold.
    */
  private def purgeChange(f: ViewFold, store: DataFrame, keys: DataFrame,
                          keyCol: String, maxBroadcastKeys: Long): Change = {
    val n = needed(f, keyCol, store.columns, "store")
    val k = keys.select(keyCol).distinct()
    requireBroadcastable(k, maxBroadcastKeys, "purge")
    val pre = byKey(store.select(n.map(col): _*), k, keyCol, "left_semi")
    Change(f, keyCol, k, pre, pre.where(lit(false)))
  }

  /** A change as signed DELTA ROWS: each live winner row becomes `(dims,
    * n = 1, sum = value)` and each live pre-image row `(dims, n = −1,
    * sum = −value)`, both carrying the value as `__v` and the sign as
    * `__sgn` for the flavour's [[ViewFold.deltaAggs]] (a when() with no
    * otherwise is null on the other side's rows and on null values, and
    * the aggregates skip nulls).
    */
  private def signed(c: Change): DataFrame = {
    val f = c.f
    def rows(df: DataFrame, sign: Int) =
      f.live(df).select(f.dims.map(col) :+ lit(sign.toLong).as(f.nCol) :+
        (col(f.valCol) * lit(sign)).as(f.sumCol) :+ col(f.valCol).as("__v") :+
        lit(sign).as("__sgn"): _*)
    rows(c.winner, 1).unionByName(rows(c.pre, -1))
  }

  /** [[aggDelta]]'s body: the signed rows summed per dim. A fold never
    * builds it — its signed rows go straight into [[merge]].
    */
  private def delta(c: Change): DataFrame = {
    val f = c.f
    f.groups(signed(c)).agg(sum(col(f.nCol)).as(f.nCol),
      sum0(col(f.sumCol), c.pre.schema(f.valCol).dataType).as(f.sumCol))
  }

  /** Fold delta rows into the view state through ONE dim-bounded
    * union+groupBy — THE one exchange of a fold. n/sum add up; every
    * other column rides along null on the side that lacks it. The
    * view-`state` columns are picked out by null-skipping MAX (the view
    * holds one row per dim and delta rows carry no state, so MAX is
    * pure selection), and `aggs` (the flavour's delta aggregates over
    * the signed rows) skip the view's nulls. `delta` may be an
    * [[aggDelta]] (one row per dim) or a fold's signed rows. Dims whose
    * live row count reached zero drop. Null dims group as ordinary
    * values on both sides — no join, so no null-key mismatch to guard.
    */
  private def merge(agg: DataFrame, delta: DataFrame, dims: Seq[String],
                    nCol: String, sumCol: String, state: Seq[String],
                    aggs: Seq[Column] = Nil): DataFrame = {
    val cols = (dims ++ Seq(nCol, sumCol) ++ state ++ delta.columns).distinct
    def side(df: DataFrame, other: DataFrame) =
      df.select(cols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(other.schema(c).dataType).as(c)): _*)
    side(agg, delta).unionByName(side(delta, agg))
      .groupBy(dims.map(col): _*)
      .agg(sum(col(nCol)).as(nCol),
        sum0(col(sumCol), agg.schema(sumCol).dataType).as(sumCol) +:
          (state.map(c => max(col(c)).as(c)) ++ aggs): _*)
      .where(col(nCol) =!= 0)
  }

  /** The fold core: the signed rows merged into the view and — for a
    * flavour with state — the EAGER tail. The dim-bounded stepped state
    * CHECKPOINTS inside the call and counts its recompute flags in the
    * same job, so the flag test costs no action of its own, the common
    * unflagged commit carries no recompute branch (and no store scan)
    * in its plan at all, with no reliance on AQE's empty-relation
    * propagation, and callers need no lineage truncation across folds.
    * Only flagged dims recompute, from `rstore()` — the FULL pre-change
    * store, built lazily — anti-joined with the changed keys, plus the
    * winners.
    */
  private def fold(agg: DataFrame, c: Change, rstore: () => DataFrame): DataFrame = {
    val f = c.f
    f.stateCols.foreach(s => require(agg.columns.contains(s),
      s"agg is missing view-state column $s — seed the view with its own flavour's snapshot"))
    val merged = merge(agg, signed(c), f.dims, f.nCol, f.sumCol, f.stateCols, f.deltaAggs)
    if (f.stateCols.isEmpty) return merged
    val vt = c.pre.schema(f.valCol).dataType
    val dk = struct(f.dims.map(col): _*).as("__dk")
    // the flag count rides the checkpoint job as an observed metric
    // (Dedup.connectedComponents' pattern): no flag-test action
    val obs = org.apache.spark.sql.Observation()
    val ck = f.step(merged, vt).withColumn("__dk", dk)
      .observe(obs, count_if(col("__rc")).as("rc")).localCheckpoint(true)
    val flagged = ck.where(col("__rc")).select("__dk")
    val out = if (obs.get("rc") == 0L) ck else {
      val rs = rstore()
      (c.keyCol +: f.opCol +: f.dims :+ f.valCol).foreach(n =>
        require(rs.columns.contains(n), s"recomputeStore missing column $n"))
      def live(df: DataFrame) = f.live(df).select(dk, col(f.valCol))
      val r = f.rebuilt(live(byKey(rs, c.keys, c.keyCol, "left_anti"))
        .unionByName(live(c.winner))
        .join(flagged.hint("broadcast"), Seq("__dk"), "left_semi"))
      f.stateCols.zip(r.columns.tail).foldLeft(ck.join(r, Seq("__dk"), "left")) {
        case (df, (s, t)) => df.withColumn(s, when(col("__rc"), col(t)).otherwise(col(s)))
      }
    }
    out.select(f.dims.map(col) ++ Seq(col(f.nCol), col(f.sumCol)) ++ f.served(vt): _*)
  }

  /** Fold one changelog batch into view `agg` against the PRE-batch
    * `store`. `rstore` is the recompute source — an affected dim's
    * other rows live in every bucket, so a bucketed caller passes the
    * full store; it is built only on the recompute path.
    */
  private[graft] def foldBatch(f: ViewFold, agg: DataFrame, store: DataFrame,
                               batch: DataFrame, keyCol: String,
                               seqCols: Seq[String], maxBroadcastKeys: Long,
                               rstore: () => DataFrame): DataFrame =
    foldWinners(f, agg, viewWinners(f, store, batch, keyCol, seqCols, maxBroadcastKeys), rstore)

  /** Fold a batch's [[Winners]] into view `agg`: the signed rows, and
    * on the recompute path the changed keys and the winners, all read
    * from `w.rows` — persist them when the same winners also feed the
    * merge (`w.merged`), as a matview trigger and the batch matview
    * rows do.
    */
  private[graft] def foldWinners(f: ViewFold, agg: DataFrame, w: Winners,
                                 rstore: () => DataFrame): DataFrame =
    fold(agg, winnerChange(f, w), rstore)

  /** Subtract the purged `keys`' live contributions from view `agg` —
    * correct VIEW-FIRST against the PRE-purge store: a recompute reads
    * `rstore()` anti-joined with the keys, i.e. the survivors.
    */
  private[graft] def foldPurge(f: ViewFold, agg: DataFrame, store: DataFrame,
                               keys: DataFrame, keyCol: String,
                               maxBroadcastKeys: Long,
                               rstore: () => DataFrame): DataFrame =
    fold(agg, purgeChange(f, store, keys, keyCol, maxBroadcastKeys), rstore)

  /** [[CountSum]]'s full recompute. */
  def aggSnapshot(store: DataFrame, opCol: String, dims: Seq[String],
                  valCol: String, deleteOp: String = "D",
                  nCol: String = "n", sumCol: String = "sum"): DataFrame =
    CountSum(opCol, dims, valCol, deleteOp, nCol, sumCol).snapshot(store)

  /** Per-dimension (count, sum) DELTA of one changelog batch against
    * the PRE-batch store, `(dims..., nCol, sumCol)`: fold it into the
    * maintained aggregate with [[mergeAggDelta]] alongside the
    * [[mergeBatch]] that folds the batch into the store. The delta is
    * `+winner − pre` over the live rows — see [[ViewFold]]. Pass an
    * integer `valCol` (cents, not dollars) when the view is gated by
    * hash.
    *
    * 100 TB shape: the store is touched ONLY via a broadcast semi-join
    * on the batch's keys, every aggregation partial-aggregates
    * map-side, and the output is dim-cardinality-sized.
    */
  def aggDelta(store: DataFrame, batch: DataFrame, keyCol: String,
               opCol: String, seqCols: Seq[String], dims: Seq[String],
               valCol: String, deleteOp: String = "D",
               nCol: String = "n", sumCol: String = "sum",
               maxBroadcastKeys: Long = 10000000L): DataFrame = {
    val f = CountSum(opCol, dims, valCol, deleteOp, nCol, sumCol)
    delta(winnerChange(f, viewWinners(f, store, batch, keyCol, seqCols, maxBroadcastKeys)))
  }

  /** Fold an [[aggDelta]] into the maintained aggregate — the
    * view-state merge with no extra state.
    */
  def mergeAggDelta(agg: DataFrame, delta: DataFrame, dims: Seq[String],
                    nCol: String = "n", sumCol: String = "sum"): DataFrame =
    merge(agg, delta, dims, nCol, sumCol, Nil)

  /** [[MinMax]]'s full recompute. */
  def aggSnapshotMinMax(store: DataFrame, opCol: String, dims: Seq[String],
                        valCol: String, deleteOp: String = "D",
                        nCol: String = "n", sumCol: String = "sum",
                        minCol: String = "min", maxCol: String = "max")
      : DataFrame =
    MinMax(opCol, dims, valCol, deleteOp, nCol, sumCol, minCol, maxCol).snapshot(store)

  /** Fold one changelog batch into a [[MinMax]] view `agg` (EAGER —
    * see [[ViewFold]]). `recomputeStore` is the full store for
    * bucketed callers (defaults to `store`); a no-retraction fold
    * never executes it (PlanShapeSpec pins this with a poisoned
    * source).
    */
  def mergeAggMinMax(agg: DataFrame, store: DataFrame, batch: DataFrame,
                     keyCol: String, opCol: String, seqCols: Seq[String],
                     dims: Seq[String], valCol: String,
                     deleteOp: String = "D",
                     nCol: String = "n", sumCol: String = "sum",
                     minCol: String = "min", maxCol: String = "max",
                     maxBroadcastKeys: Long = 10000000L,
                     recomputeStore: Option[DataFrame] = None): DataFrame =
    foldBatch(MinMax(opCol, dims, valCol, deleteOp, nCol, sumCol, minCol, maxCol),
      agg, store, batch, keyCol, seqCols, maxBroadcastKeys,
      () => recomputeStore.getOrElse(store))

  /** [[Sketch]]'s full recompute. */
  def aggSnapshotSketch(store: DataFrame, opCol: String, dims: Seq[String],
                        valCol: String, k: Int, deleteOp: String = "D",
                        nCol: String = "n", sumCol: String = "sum",
                        minCol: String = "min", maxCol: String = "max")
      : DataFrame =
    Sketch(opCol, dims, valCol, k, deleteOp, nCol, sumCol, minCol, maxCol).snapshot(store)

  /** Fold one changelog batch into a [[Sketch]] view `agg` — same
    * `recomputeStore`, broadcast and EAGER contracts as
    * [[mergeAggMinMax]]; the full store is read only on a drain.
    */
  def mergeAggSketch(agg: DataFrame, store: DataFrame, batch: DataFrame,
                     keyCol: String, opCol: String, seqCols: Seq[String],
                     dims: Seq[String], valCol: String, k: Int,
                     deleteOp: String = "D",
                     nCol: String = "n", sumCol: String = "sum",
                     minCol: String = "min", maxCol: String = "max",
                     maxBroadcastKeys: Long = 10000000L,
                     recomputeStore: Option[DataFrame] = None): DataFrame =
    foldBatch(Sketch(opCol, dims, valCol, k, deleteOp, nCol, sumCol, minCol, maxCol),
      agg, store, batch, keyCol, seqCols, maxBroadcastKeys,
      () => recomputeStore.getOrElse(store))

  /** Subtract purged `keys` from a [[Sketch]] view — [[foldPurge]]:
    * the keys' live values pop out of each dim's sketch and only a
    * drained side rebuilds, from the survivors.
    */
  def purgeAggSketch(agg: DataFrame, store: DataFrame, keys: DataFrame,
                     keyCol: String, opCol: String, dims: Seq[String],
                     valCol: String, k: Int, deleteOp: String = "D",
                     nCol: String = "n", sumCol: String = "sum",
                     minCol: String = "min", maxCol: String = "max",
                     maxBroadcastKeys: Long = 10000000L,
                     recomputeStore: Option[DataFrame] = None): DataFrame =
    foldPurge(Sketch(opCol, dims, valCol, k, deleteOp, nCol, sumCol, minCol, maxCol),
      agg, store, keys, keyCol, maxBroadcastKeys,
      () => recomputeStore.getOrElse(store))

  /** Expand a changelog into SCD-type-2 history: one VERSION row per
    * non-delete log entry, valid over [`validFrom`, `validTo`) —
    * `validFrom` is the entry's own `tsCol`, `validTo` the NEXT
    * entry's (any op, so a delete closes the last version without
    * opening one), null `validTo` marks the key's current version
    * (`currentCol`); a key whose last entry is a delete has no
    * current row. The point-in-time lookup this enables ("which
    * corpus rows were live when this checkpoint trained?") is the
    * audit twin of [[applyLog]]'s latest-state merge — applyLog's
    * output equals this history filtered to `currentCol`.
    *
    * Same seq contract as [[applyLog]]: the `seqCols` tuple is unique
    * and non-null per key. Unlike applyLog there is NO aggregation to
    * push map-side — every version row is output, so the one shuffle
    * carries the full log partitioned by key, and a single window
    * sort serves the lead(). A key's whole history lands in one
    * partition by construction; history depth per key is the skew
    * contract (same class as [[TimeJoin.sessionize]]'s per-key
    * ordering).
    */
  def scd2(log: DataFrame, keyCol: String, opCol: String,
           seqCols: Seq[String], tsCol: String, deleteOp: String = "D",
           validFrom: String = "valid_from", validTo: String = "valid_to",
           currentCol: String = "is_current"): DataFrame = {
    require(seqCols.nonEmpty, "scd2 needs at least one seq column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(seqCols.toIndexedSeq.map(col): _*)
    log.withColumn(validTo, lead(col(tsCol), 1).over(w))
      .where(col(opCol) =!= deleteOp)
      .withColumn(currentCol, col(validTo).isNull)
      .withColumnRenamed(tsCol, validFrom)
      .drop(opCol)
  }

  /** Time-travel read over an [[scd2]] history: the version of each
    * key visible at instant `ts` — `valid_from ≤ ts < valid_to` (open
    * end; a null valid_to is the current version). Deleted keys are
    * absent by construction: [[scd2]] computes each version's
    * valid_to from the NEXT log entry — including a delete — before
    * dropping the delete rows, so a key deleted before `ts` has no
    * admissible interval.
    *
    * Pure map-side filter — time travel over 100 TB of history costs
    * one pruned scan (lay the history out by valid_from and partition
    * pruning does the rest), never a join or a window.
    */
  def asOf(history: DataFrame, ts: Column,
           validFrom: String = "valid_from",
           validTo: String = "valid_to"): DataFrame =
    history.where(col(validFrom) <= ts &&
      (col(validTo).isNull || ts < col(validTo)))

  /** Diff two snapshot versions by key: one row per key present in
    * either side, `status` ∈ added (only in `b`) / removed (only in
    * `a`) / changed / unchanged. `contentFp` is a fingerprint
    * expression over each side's own columns (e.g.
    * `Hashing.h60(col("text"))`) — equality of fingerprints is the
    * "unchanged" test, so rows compare by an 8-byte value and the
    * content itself NEVER crosses the exchange: the full-outer join
    * shuffles (key, fp) pairs only, the same
    * fingerprints-not-payload discipline as
    * [[Dedup.exactByFingerprint]]. One shuffle total, both sides
    * map-side-hashed.
    */
  def diff(a: DataFrame, b: DataFrame, keyCol: String,
           contentFp: Column, statusCol: String = "status"): DataFrame = {
    val fa = a.select(col(keyCol).as("__k"), contentFp.as("__fa"))
    val fb = b.select(col(keyCol).as("__k"), contentFp.as("__fb"))
    fa.join(fb, Seq("__k"), "full_outer")
      .select(col("__k").as(keyCol),
        when(col("__fa").isNull, lit("added"))
          .when(col("__fb").isNull, lit("removed"))
          .when(col("__fa") === col("__fb"), lit("unchanged"))
          .otherwise(lit("changed")).as(statusCol))
  }
}
