package graft.queries

/** Shared oracle-SQL fragments. The cents/sum conventions are part of
  * the engine-portability contract (AggQueries' determinism note): a
  * rounding change here must change every oracle at once, never one
  * query file at a time. */
private[queries] object OracleSql {

  /** Double → exact integer cents, half-up — the SQL twin of the
    * Spark-side `floor(c * 100 + 0.5).cast(LongType)`. */
  val cents: String => String = e =>
    s"CAST(floor(($e) * 100 + 0.5) AS BIGINT)"

  /** DuckDB widens sum(BIGINT) to HUGEINT (int128); the driver gate
    * hashes that differently from Spark's int64. Every oracle sum over
    * integers must come back down to BIGINT explicitly. */
  val sumB: String => String = e => s"CAST(sum($e) AS BIGINT)"

  /** Cosine similarity in milli over two 64-dim float lists — MUST
    * mirror `GraftFunctions.cosineMilli` operation-for-operation (cast
    * to double, sequential sum) so IEEE results are bit-identical. */
  def cosMilli(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"CAST(floor(1000.0 * (${dot(a, b)} / " +
      s"(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))) + 0.5) AS BIGINT)"
  }

  /** Milli-quantized long vector from a float list — the SQL twin of
    * [[graft.ops.Clustering.quantizeMilli]]. */
  def quantMilli(v: String, dim: Int): String =
    s"list_transform(range(1, ${dim + 1}), i -> " +
      s"CAST(floor(CAST($v[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

  /** Exact integer squared-L2 over two BIGINT lists — the SQL twin of
    * [[graft.ops.Clustering.l2sqLong]] (already BIGINT-cast). */
  def l2sqList(a: String, b: String, dim: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> " +
      s"($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** CTE `turns(doc_id, i, role, cnt)`: each document cut into up to
    * four 80-char turns, user/assistant alternating, with each turn's
    * whitespace-token count — the conversation fixture both SFT gates
    * (q_sft_loss_mask, q_sft_masked_pack) replay. */
  val chatTurns: String = """
    |turns AS (SELECT doc_id, i,
    |    CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
    |    CAST(len(string_split_regex(
    |      trim(substring(text, 1 + 80 * i::INT, 80)),
    |      '[ \t\n\r\f]+')) AS BIGINT) AS cnt
    |  FROM documents, unnest(generate_series(0, 3)) AS u(i)
    |  WHERE substring(text, 1 + 80 * i::INT, 80) <> '')""".stripMargin.trim

  /** Ids of [[EvalArtifacts.plantedCorpus]] docs sharing an 8-token
    * shingle with the eval set — the exact answer of both
    * decontamination gates (broadcast semi-join and Bloom-staged). */
  val decontaminated: String = """
    |WITH ev AS (SELECT doc_id, text FROM documents
    |  WHERE doc_id % 50 = 0),
    |corpus AS (
    |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
    |  UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM ev),
    |evs AS (SELECT DISTINCT unnest(list_distinct(
    |    list_transform(range(1, len(toks) - 6),
    |      i -> array_to_string(toks[i:i+7], ' ')))) AS s
    |  FROM (SELECT string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks
    |        FROM ev) WHERE len(toks) >= 8),
    |cs AS (SELECT doc_id, unnest(list_distinct(
    |    list_transform(range(1, len(toks) - 6),
    |      i -> array_to_string(toks[i:i+7], ' ')))) AS s
    |  FROM (SELECT doc_id,
    |          string_split_regex(trim(text), '[ \t\n\r\f]+') AS toks
    |        FROM corpus) WHERE len(toks) >= 8)
    |SELECT DISTINCT doc_id FROM cs
    |WHERE s IN (SELECT s FROM evs) ORDER BY doc_id
    |""".stripMargin.trim
}
