package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture scale-up for the cross-SF probe's extra decades
  * (`scripts/scale_probe.py` sf0.1 → sf1 → sf10): tiles each
  * read-only driver fixture R× with per-replica key remapping, so
  * gate timings can be compared across genuine 10×/100× data steps
  * that the driver doesn't ship. R ≤ 100 (doc/vec ids stay strictly
  * below the 1,000,000 mutated-copy sentinel at 10,000·r + ids<10k;
  * embedding transforms are unique for r < 128).
  *
  * Design choice the probe's honesty depends on: replicas are
  * DISJOINT. Keys are offset per replica (referential integrity
  * preserved within a replica: orders(r) → customer(r),
  * lineitem(r) → orders/part/supplier(r)); document text gets a
  * per-replica vocabulary suffix on every token (token counts,
  * shingle structure, and planted-near-dup density are EXACTLY those
  * of the base corpus, but no shingle matches across replicas);
  * embeddings are rotated by r positions (norms and within-replica
  * geometry preserved, cross-replica correlation broken). A 10×
  * corpus grown from NEW content keeps per-bucket density roughly
  * constant — which is what disjoint replicas model. Naive cloning
  * would instead multiply every LSH bucket's size by R and
  * manufacture an O(R²) candidate blow-up that measures the cloning,
  * not the operator.
  *
  * Replica id offsets stay below the id-arithmetic sentinels the
  * query suite plants (mutated copies at +1,000,000, batches at
  * +2,000,000): documents/embeddings use +10,000·r (base ids < 10k).
  *
  * Usage: ScaleUp <srcDir> <dstDir> [replicas=10]
  */
object ScaleUp {

  private def rep(df: DataFrame, n: Int): DataFrame =
    df.withColumn("rep", explode(lit((0 until n).toArray)))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Harness.session()
    def read(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t x$n")
    }

    // dims referenced by unshifted FK columns: single copy
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(rep(read("customer"), n)
      .select((col("c_custkey") + col("rep") * 100000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")), "customer")

    write(rep(read("supplier"), n)
      .select((col("s_suppkey") + col("rep") * 10000L).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier")

    write(rep(read("part"), n)
      .select((col("p_partkey") + col("rep") * 100000L).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice")), "part")

    write(rep(read("orders"), n)
      .select((col("o_orderkey") + col("rep") * 1000000L).as("o_orderkey"),
        (col("o_custkey") + col("rep") * 100000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")), "orders")

    write(rep(read("lineitem"), n)
      .select((col("l_orderkey") + col("rep") * 1000000L).as("l_orderkey"),
        (col("l_partkey") + col("rep") * 100000L).as("l_partkey"),
        (col("l_suppkey") + col("rep") * 10000L).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), "lineitem")

    write(rep(read("events"), n)
      .select((col("event_id") + col("rep") * 10000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props")), "events")

    // per-replica vocabulary: suffix every token for r > 0 — same
    // token counts and shingle structure, zero cross-replica overlap
    write(rep(read("documents"), n)
      .select((col("doc_id") + col("rep") * 10000L).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(expr("regexp_replace(text, '(\\\\w+)', " +
            "concat('$1q', cast(rep AS string)))"))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars"), "documents")

    // rotate each embedding by r positions: norm and within-replica
    // geometry identical, cross-replica cosine decorrelated. Rotation
    // alone repeats mod dim (64): replica r and r+64 would carry
    // IDENTICAL vectors — planted exact duplicates that manufacture
    // super-linear candidate density, the artifact this tool exists to
    // avoid. For r >= dim, additionally flip the sign of odd
    // coordinates (keyed by r div 64): a sign flip is orthogonal, so
    // norms and within-replica inner products are exactly preserved,
    // while <S u, u'> ≈ Σeven − Σodd ≈ 0 decorrelates the repeated
    // rotations. Replicas 0..63 are byte-identical to the pre-flip
    // construction, so sf1 fixtures built earlier stay reproducible.
    write(rep(read("embeddings"), n)
      .select((col("vec_id") + col("rep") * 10000L).as("vec_id"),
        expr("transform(" +
          "concat(slice(embedding, (rep % size(embedding)) + 1, " +
          "size(embedding) - (rep % size(embedding))), " +
          "slice(embedding, 1, rep % size(embedding))), " +
          "(x, i) -> case when rep div 64 % 2 = 1 and i % 2 = 1 " +
          "then -x else x end)").as("embedding"),
        col("label")), "embeddings")

    spark.stop()
  }
}
