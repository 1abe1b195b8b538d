package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{bloomAgg, bloomMightContain}

/** Broadcast dimension-enrichment joins — §2.4 of SURVEY.md. Every join
  * in the reference is a broadcast-hinted left equi-join of a fact
  * table against a ≤81-row dimension
  * (shared helper at jobs/spark/historical_data_transformation.py:56-57,
  * propnex_transformation.py:77-78, srx_transformation.py:91-92).
  *
  * Scale notes: the explicit `broadcast()` hint keeps these shuffle-free
  * at any fact size — the dim ships once per executor. At 100 TB the
  * fact side streams through `BroadcastHashJoinExec` inside the same
  * codegen stage as the surrounding projections. */
object Joins {

  /** The reference's `broadcast_join(df, small_df, column, method)`. */
  def broadcastEnrich(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                      how: String = "left"): DataFrame =
    fact.join(broadcast(dim), keys, how)

  /** J1 (historical_data_transformation.py:59-63) — case-insensitive
    * equi-join by normalization: lower both sides, join, restore with
    * `restore` (reference: initcap + a `/w`→`/W` regex fix-up). */
  def normalizedEnrich(fact: DataFrame, dim: DataFrame, key: String,
                       restore: Column => Column): DataFrame = {
    val f = fact.withColumn(key, lower(col(key)))
    val d = dim.withColumn(key, lower(col(key)))
    f.join(broadcast(d), Seq(key), "left")
      .withColumn(key, restore(col(key)))
  }

  /** J2 (historical_data_transformation.py:103) — dedup the dim before
    * joining: `dim.select(cols).distinct()` then broadcast-left-join.
    * The distinct is a tiny HashAggregate inside the broadcast subtree,
    * never a fact-side shuffle. */
  def distinctDimEnrich(fact: DataFrame, dim: DataFrame,
                        dimCols: Seq[String], key: String): DataFrame =
    fact.join(broadcast(dim.select(dimCols.map(col): _*).distinct()),
      Seq(key), "left")

  /** Backward as-of join: for every left row, attach the payload of
    * the latest right row with the same key and right.time ≤
    * left.time — the time-series join Spark has no built-in for
    * (SURVEY §7.5 escalation path (a): COMPOSE built-ins before
    * reaching for a custom SparkPlan).
    *
    * Construction: tag both sides, union, and take a running
    * `last(payload, ignoreNulls)` over a per-key window ordered by
    * (time, side, tiebreak) with right rows sorting BEFORE left rows
    * at equal timestamps (≤ semantics, ties within the right side
    * resolved by `rightTiebreak` — fully deterministic, so an oracle
    * can replicate it bit-for-bit).
    *
    * Scale shape: ONE hash-partition shuffle on the key plus an
    * intra-partition sort — same cost as any window — versus the
    * range-join alternative (left ⋈ right on key AND time-bound, then
    * max-per-left) which explodes to |matches| intermediate rows and
    * needs a second aggregation. No broadcast requirement: both sides
    * may be fact-sized. */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: String,
                       time: String, payload: Seq[String],
                       rightTiebreak: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The union-tag construction is only sound when payload columns
    // exist ONLY on the right side: a left column with a payload name
    // would feed left-side values into last(..., ignoreNulls), letting
    // left rows match themselves and silently corrupting the result.
    val collisions = payload.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"asofJoinBackward payload columns must not exist on the left " +
        s"side (collisions: ${collisions.mkString(", ")}); rename them " +
        s"on one side first")
    val outCollisions =
      payload.map("asof_" + _).toSet.intersect(left.columns.toSet)
    require(outCollisions.isEmpty,
      s"asofJoinBackward output columns would clobber existing left " +
        s"columns: ${outCollisions.mkString(", ")}")
    require(!left.columns.contains("__side") &&
        !right.columns.contains("__side"),
      "asofJoinBackward reserves the __side column name")
    val l = left.withColumn("__side", lit(1))
    val r = right.withColumn("__side", lit(0))
    val all = l.unionByName(r, allowMissingColumns = true)
    val ord = (col(time).asc +: col("__side").asc +:
      rightTiebreak.map(col(_).asc))
    val w = Window.partitionBy(key).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withAsof = payload.foldLeft(all) { (df, c) =>
      df.withColumn(s"asof_$c", last(col(c), ignoreNulls = true).over(w))
    }
    withAsof.filter(col("__side") === 1)
      .drop("__side").drop(payload: _*)
      .drop(rightTiebreak.filterNot(left.columns.contains): _*)
  }

  /** Backward as-of join via the NATIVE whole-operator path — SURVEY
    * §7.5 escalation (c): [[graft.plans.BroadcastAsOfJoin]] (custom
    * LogicalPlan) planned by [[graft.plans.AsOfJoinStrategy]] into a
    * broadcast hash + binary-search exec. Same output shape as
    * [[asofJoinBackward]] (left columns + `asof_<payload>`), ROW-level
    * semantics (see the plan's scaladoc for the null-handling
    * difference vs the union-window form — they agree when keys, times
    * and payloads are non-null).
    *
    * When to prefer which: this form broadcasts the RIGHT side (must be
    * dimension-sized) and streams the left with no shuffle and no sort;
    * the union-window form shuffles + sorts both sides but handles
    * fact-sized right inputs. The BroadcastHashJoin / SortMergeJoin
    * trade, applied to as-of. */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame, key: String,
                        time: String, payload: Seq[String],
                        rightTiebreak: Seq[String]): DataFrame = {
    val outCollisions =
      payload.map("asof_" + _).toSet.intersect(left.columns.toSet)
    require(outCollisions.isEmpty,
      s"asofJoinBroadcast output columns would clobber existing left " +
        s"columns: ${outCollisions.mkString(", ")}")
    val spark = left.sparkSession
    // runtime planner registration — build-time sessions get the same
    // object via GraftExtensions.injectPlannerStrategy, which surfaces
    // in sessionState.planner.strategies (so checking only
    // experimental.extraStrategies would double-register there).
    // Synchronized: experimental.extraStrategies is session-global
    // state and the read-modify-write would otherwise race.
    Joins.synchronized {
      if (!spark.sessionState.planner.strategies
          .contains(graft.plans.AsOfJoinStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
      }
    }
    // fresh exprIds on the build side (aliases), so a self-derived
    // right never exprId-collides with the left subtree during the
    // wrapping Dataset's re-analysis
    val rCols = (Seq(key, time) ++ rightTiebreak ++ payload).distinct
    val r = right.select(rCols.map(c => col(c).as("__r_" + c)): _*)
    val lplan = left.queryExecution.analyzed
    val rplan = r.queryExecution.analyzed
    def attrOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
               n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    // the exec's ordering/hash-lookup state is built from the BUILD
    // side's types and probed with STREAM values: a type mismatch is a
    // runtime ClassCastException (time) or silent all-null payloads
    // (key, when the boxed types never compare equal) — reject here,
    // where the fix (an explicit cast) is obvious
    for ((l, r2, what) <- Seq((key, "__r_" + key, "key"),
        (time, "__r_" + time, "time"))) {
      val (lt, rt) = (attrOf(lplan, l).dataType, attrOf(rplan, r2).dataType)
      require(lt == rt,
        s"asofJoinBroadcast $what types differ: left $l is $lt, " +
          s"right is $rt — cast one side explicitly")
    }
    val payloadOut = payload.map { c =>
      val a = attrOf(rplan, "__r_" + c)
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "asof_" + c, a.dataType, nullable = true)()
    }
    org.apache.spark.sql.graft.Internals.ofRows(spark,
      graft.plans.BroadcastAsOfJoin(lplan, rplan,
        attrOf(lplan, key), attrOf(rplan, "__r_" + key),
        attrOf(lplan, time), attrOf(rplan, "__r_" + time),
        payload.map(c => attrOf(rplan, "__r_" + c)),
        rightTiebreak.map(c => attrOf(rplan, "__r_" + c)),
        payloadOut))
  }

  /** Bucketized range (interval) join: pair every left row whose
    * `valueCol` (exact long units) falls in a right interval
    * [`loCol`, `hiCol`) — the second join Spark lacks a scalable
    * built-in for. A plain theta-join plans as
    * BroadcastNestedLoopJoin, O(|L|·|R|) compares, broadcast-bound;
    * here each right interval is EXPLODED onto the fixed-width buckets
    * it covers and each left value hashes to exactly one bucket, so
    * the pairing is ONE equi-join on the bucket id plus an exact
    * bound filter. A (value, interval) pair meets in exactly one
    * bucket (the value's), so no dedup pass is needed.
    *
    * Pick `bucketWidth` near the typical interval width: wider →
    * fewer explode copies per interval; narrower → fewer false
    * candidates per bucket. Cost: |R| × (width/bucketWidth + 1)
    * exploded rows, one shuffle each side. */
  def rangeJoinBucketed(left: DataFrame, valueCol: String,
                        right: DataFrame, loCol: String, hiCol: String,
                        bucketWidth: Long): DataFrame = {
    val lb = left.withColumn("__b",
      expr(s"$valueCol div ${bucketWidth}L"))
    val rb = right.withColumn("__b",
      explode(sequence(expr(s"$loCol div ${bucketWidth}L"),
        expr(s"($hiCol - 1) div ${bucketWidth}L"))))
    lb.join(rb, "__b")
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__b")
  }

  /** Bloom-pruned equi-join: build a Bloom filter over the SMALL
    * side's join keys (one partial-aggregable pass, bitwise-OR merge),
    * collect the few-KB sketch to the driver, and filter the BIG side
    * with a codegen'd membership test BEFORE its exchange — then run
    * the ordinary join. Bloom false positives survive the filter but
    * are dropped by the join's equality check, so the composition is
    * row-for-row identical to the plain join while shipping only
    * ~selectivity·|fact| rows through the shuffle.
    *
    * This is Catalyst's InjectRuntimeFilter technique surfaced as an
    * explicit operator: the built-in rule only fires under its own
    * thresholds (shuffle-join shapes, creation-side size caps); a
    * pipeline author who KNOWS the dim side is selective can demand it.
    * At 100 TB the win is the difference between shuffling the full
    * fact table and shuffling the matching fraction.
    *
    * `numBits` defaults to 4M (512 KB sketch — broadcast-trivial);
    * size at ~10 bits/key for ~1% false-positive rate.
    *
    * `how` is restricted to SUPERSET-SAFE join types (inner, semi,
    * right/right-outer): pre-filtering the fact side drops only rows
    * the join's equality check would drop anyway. Left/full-outer and
    * left-anti need NON-matching fact rows to survive, so pruning
    * would silently corrupt them — rejected at construction.
    *
    * Multi-column keys hash all key columns through one xxhash64 (the
    * same composite hashing the shuffle itself uses). */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                      how: String,
                      numBits: Int,
                      numHashes: Int): DataFrame = {
    requireSupersetSafe(how, "bloomPrunedJoin")
    requireSameKeyTypes(fact, dim, keys, "bloomPrunedJoin")
    val sketch = dim
      .agg(bloomAgg(xxhash64(keys.map(col): _*), numBits, numHashes)
        .as("b"))
      .head().getAs[Array[Byte]](0)
    val pruned = fact.filter(
      bloomMightContain(lit(sketch), xxhash64(keys.map(col): _*)))
    pruned.join(dim, keys, how)
  }

  /** Single-key convenience overload. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, key: String,
                      how: String = "inner",
                      numBits: Int = 1 << 22,
                      numHashes: Int = 7): DataFrame =
    bloomPrunedJoin(fact, dim, Seq(key), how, numBits, numHashes)

  /** IN-pruned equi-join — the EXACT runtime-filter shape (the
    * IN-subquery variant of [[bloomPrunedJoin]]): collect the dim
    * side's distinct join keys to the driver (bounded by `maxKeys` —
    * this operator is for genuinely small key sets) and push per-column
    * `IN (...)` predicates into the fact scan. Unlike the Bloom form,
    * the predicate reaches the parquet reader as `PushedFilters:
    * In(...)`, so row-groups whose min/max or dictionary exclude the
    * key set are skipped WITHOUT being read — pruning at the I/O
    * layer, before any CPU is spent.
    *
    * With composite keys the per-column INs are a cartesian RELAXATION
    * of the true key set; relaxation only weakens pruning, never
    * correctness, because the join's equality check re-verifies exact
    * membership. Same superset-safe `how` restriction as
    * [[bloomPrunedJoin]]. Fails loudly when the dim key set exceeds
    * `maxKeys` — falling back silently would hide a driver-memory
    * hazard; use the Bloom form there. */
  def inPrunedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                   how: String = "inner",
                   maxKeys: Int = 100000): DataFrame = {
    requireSupersetSafe(how, "inPrunedJoin")
    requireSameKeyTypes(fact, dim, keys, "inPrunedJoin")
    // collect INTERNAL rows: the values feed an InSet directly, and a
    // single InSet over a hash set is what `isin(30k literals)` only
    // becomes after the analyzer/optimizer have walked a 30k-node
    // expression tree — at that size the tree walk alone costs seconds
    // of driver time per query
    val keyPlan = dim.select(keys.map(col): _*).distinct()
      .limit(maxKeys + 1)
    val rows = keyPlan.queryExecution.executedPlan.executeCollect()
    require(rows.length <= maxKeys,
      s"inPrunedJoin: dim key set exceeds maxKeys=$maxKeys — " +
        "use bloomPrunedJoin for large key sets")
    val keyTypes = keyPlan.schema.fields.map(_.dataType)
    import org.apache.spark.sql.graft.Internals
    val pruned = keys.zipWithIndex.foldLeft(fact) { case (df, (k, i)) =>
      val values = rows.map(_.get(i, keyTypes(i))).toSet
      df.filter(Internals.column(
        org.apache.spark.sql.catalyst.expressions.InSet(
          Internals.expression(col(k)), values)))
    }
    pruned.join(dim, keys, how)
  }

  /** Both pruned-join forms compare keys OUTSIDE the analyzer — the
    * Bloom form through xxhash64 (whose per-type hash functions differ:
    * the same numeric value hashes differently as Int vs Long) and the
    * IN form through an InSet over internal-format values (no implicit
    * coercion). A fact/dim key dataType mismatch would therefore prune
    * every genuinely matching row SILENTLY, while the plain join would
    * coerce and match — so mismatches are rejected at construction;
    * cast one side explicitly. */
  private def requireSameKeyTypes(fact: DataFrame, dim: DataFrame,
                                  keys: Seq[String], op: String): Unit =
    keys.foreach { k =>
      val (ft, dt) = (fact.schema(k).dataType, dim.schema(k).dataType)
      require(ft == dt,
        s"$op: key '$k' has dataType $ft on the fact side but $dt on " +
          "the dim side — hash/set membership would silently never " +
          "match; cast one side explicitly")
    }

  /** Join types for which pre-filtering the FACT (left) side by dim
    * key membership cannot change the result. */
  private def requireSupersetSafe(how: String, op: String): Unit = {
    val safe = Set("inner", "semi", "leftsemi", "left_semi",
      "right", "rightouter", "right_outer")
    require(safe.contains(how.toLowerCase.replace(" ", "")),
      s"$op only supports superset-safe join types " +
        s"(${safe.mkString(", ")}): pre-filtering the fact side drops " +
        s"non-matching rows that '$how' requires to survive")
  }

  /** J4 (propnex_transformation.py:130-131) — alias-overwrite enrich:
    * dim columns that collide with existing fact columns overwrite them
    * after the join. The reference renames dim's `district` to
    * `district_new` then copies it back; we generalize with
    * conflict-free internal aliases. */
  def enrichOverwrite(fact: DataFrame, dim: DataFrame, key: String,
                      overwrite: Seq[String]): DataFrame = {
    val renamed = overwrite.foldLeft(dim) { (d, c) =>
      d.withColumnRenamed(c, c + "__new")
    }
    val joined = fact.join(broadcast(renamed), Seq(key), "left")
    val restored = overwrite.foldLeft(joined) { (j, c) =>
      j.withColumn(c, col(c + "__new"))
    }
    restored.drop(overwrite.map(_ + "__new"): _*)
  }
}
