package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007), made fully deterministic: every node starts labeled with
  * its own id; each round a node adopts the most frequent label among
  * its neighbors, ties broken toward the SMALLEST label; all nodes
  * update simultaneously from the previous round's labels (the
  * asynchronous variant is order-dependent and unbenchable). Fixed
  * round count — the caller picks `iters` like PageRank's gate does.
  *
  * Scale shape (the [[PageRank]] / [[Components]] Pregel template):
  * each round is ONE equi-join of the symmetric edge list with the
  * KB-per-node label table plus two partial-aggregable aggregates
  * ((id,lbl) tally, then per-id argmax via min-of-struct — codegen'd
  * hash aggregates, no window, no sort), run through
  * [[Checkpoints.iterate]]; nothing but the final label table leaves
  * the executors. Integer labels and counts — no floating point
  * anywhere, so the oracle can replay rounds bit-exactly. */
object Communities {

  /** `edges`: undirected edge list (long `src`, `dst`), any
    * orientation, self-loops and duplicates tolerated (normalized
    * away). Returns (id, lbl) for every node incident to an edge. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges
      .select(col("src").cast(LongType).as("src"),
        col("dst").cast(LongType).as("dst"))
      .where(col("src") =!= col("dst"))
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    val labels0 = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    Checkpoints.iterate(labels0, iters) { (labels, _) =>
      sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("lbl"))
        .groupBy("id", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
          .as("b"))
        .select(col("id"), col("b.l").as("lbl"))
    }._1
  }

  /** DuckDB oracle twin: the same rounds unrolled as CTEs (`iters` is
    * small and fixed; recursive CTEs cannot re-aggregate). `edgesSql`
    * must be a SELECT producing columns `src`, `dst`. */
  def oracleSql(edgesSql: String, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""t$i AS (SELECT s.dst AS id, l.lbl, count(*) AS c
         |  FROM sym s JOIN l${i - 1} l ON l.id = s.src
         |  GROUP BY s.dst, l.lbl),
         |l$i AS (SELECT id, min(lbl) AS lbl FROM (
         |    SELECT id, lbl, c, max(c) OVER (PARTITION BY id) AS mc
         |    FROM t$i) x
         |  WHERE c = mc GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesSql),
       |e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
       |sym AS (SELECT src, dst FROM e1
       |  UNION SELECT dst AS src, src AS dst FROM e1),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM sym),
       |$rounds
       |SELECT id, lbl FROM l$iters ORDER BY id""".stripMargin
  }
}
