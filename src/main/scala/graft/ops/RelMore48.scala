package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Round-6 batch I: collocation mining, the kNN graph, role-playing
  * date dims. */
object RelMore48 extends KeyModule {

  /** text-collocation-pmi — collocation mining by PMI ORDER without
    * computing a single log: PMI = log(P(ab)/(P(a)P(b))) is monotone in
    * the lift ratio n_ab·N / (n_a·n_b), so ranking by the exact integer
    * lift (ppm) gives the identical top-k while staying bit-stable
    * across engines (libm log is not correctly-rounded and differs
    * across builds — the same determinism trap pow() has, dodged the
    * same way as text-temperature-mix's sqrt trick). Candidate bigrams
    * need min support 3 (the classic PMI-loves-rare-pairs fix). Shapes:
    * one explode scan for unigrams, one for adjacent bigrams, both
    * map-side-combinable groupBys; the lift join touches only surviving
    * bigrams against the two |vocab|-sized unigram sides. */
  val textCollocationPmi: Q = (s, d) => {
    val words = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"), expr("filter(w, x -> x rlike '^[a-z]{2,}$')").as("w"))
    val uni = words.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n")).sharedCache()
    uni.count() // single-stage fill: the total agg and the two PMI-side
    // joins raced the vocab table's first materialization in both r13
    // close benches (WARN triage, r14)
    val nTotal = uni.agg(sum("n").as("nt"))
    val bi = words
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i+1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    bi
      .join(uni.select(col("tok").as("a"), col("n").as("n_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nTotal))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(n_ab * nt * 1000000) div (n_a * n_b)").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), col("a"), col("b"))
      .limit(20)
  }

  val textCollocationPmiSql: String =
    """WITH words AS (
      |  SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '),
      |                     x -> regexp_full_match(x, '[a-z]{2,}')) AS w
      |  FROM documents),
      |uni AS (
      |  SELECT unnest(w) AS tok FROM words),
      |ucnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY tok),
      |nt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM ucnt),
      |bi AS (
      |  SELECT w[i] AS a, w[i+1] AS b
      |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t),
      |bcnt AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM bi GROUP BY a, b HAVING count(*) >= 3)
      |SELECT bc.a, bc.b, bc.n_ab, ua.n AS n_a, ub.n AS n_b,
      |       (bc.n_ab * nt.nt * 1000000) // (ua.n * ub.n) AS lift_ppm
      |FROM bcnt bc
      |JOIN ucnt ua ON ua.tok = bc.a
      |JOIN ucnt ub ON ub.tok = bc.b
      |CROSS JOIN nt
      |ORDER BY lift_ppm DESC, bc.a, bc.b
      |LIMIT 20""".stripMargin

  /** ann-knn-graph — the directed k-nearest-neighbor graph (k=3,
    * cosine) and its MUTUALITY profile per label bucket: how many kNN
    * edges are reciprocated (a ∈ knn(b) ∧ b ∈ knn(a)). The mutual-kNN
    * graph is the substrate UMAP/HNSW/graph-clustering build on, and
    * mutuality is its health metric — isotropic noise reciprocates
    * rarely, clustered data reciprocates densely, so this number says
    * whether a graph-based index will work BEFORE building it
    * (companion of ann-cell-balance on the IVF side). Candidate
    * generation is label-bucketed exactly like dedup-semantic-ivf
    * (Σ|bucket|² work, never corpus²); the mutuality join is
    * edge-keyed. */
  val annKnnGraph: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val wK = Window.partitionBy("va").orderBy(desc("cosine"), col("vb"))
    val knn = all.as("x").join(all.as("y"), col("x.label") === col("y.label"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.label").as("label"), col("x.vec_id").as("va"),
        col("y.vec_id").as("vb"),
        round(expr("cosine_similarity(x.v, y.v)"), 9).as("cosine"))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= 3)
      .select(col("label"), col("va"), col("vb")).sharedCache()
    val mutualByLabel = knn
      .join(knn.select(col("va").as("vb"), col("vb").as("va")), Seq("va", "vb"))
      .groupBy("label").agg(count(lit(1)).as("n_mutual"))
    knn.groupBy("label")
      .agg(countDistinct("va").as("n_nodes"), count(lit(1)).as("n_edges"))
      .join(mutualByLabel, Seq("label"), "left_outer")
      .select(col("label"), col("n_nodes"), col("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        expr("(coalesce(n_mutual, 0) * 1000000) div n_edges").as("mutual_ppm"))
      .orderBy("label")
  }

  val annKnnGraphSql: String = {
    val cos = """round(list_inner_product(x.emb, y.emb) /
                |             (sqrt(list_inner_product(x.emb, x.emb)) *
                |              sqrt(list_inner_product(y.emb, y.emb))), 9)""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
       |knn AS (
       |  SELECT label, va, vb FROM (
       |    SELECT x.label, x.vec_id AS va, y.vec_id AS vb,
       |           row_number() OVER (PARTITION BY x.vec_id
       |             ORDER BY $cos DESC, y.vec_id) AS rk
       |    FROM e x JOIN e y ON y.label = x.label AND y.vec_id <> x.vec_id)
       |  WHERE rk <= 3),
       |mut AS (
       |  SELECT f.label, f.va, f.vb
       |  FROM knn f JOIN knn r ON r.va = f.vb AND r.vb = f.va)
       |SELECT k.label,
       |       CAST(count(DISTINCT k.va) AS BIGINT) AS n_nodes,
       |       CAST(count(*) AS BIGINT) AS n_edges,
       |       CAST(coalesce(m.nm, 0) AS BIGINT) AS n_mutual,
       |       (CAST(coalesce(m.nm, 0) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS mutual_ppm
       |FROM knn k
       |LEFT JOIN (SELECT label, count(*) AS nm FROM mut GROUP BY label) m
       |  ON m.label = k.label
       |GROUP BY k.label, m.nm
       |ORDER BY k.label""".stripMargin
  }

  /** join-role-playing-dates — one conformed date dimension joined in
    * two ROLES (order date and ship date) against the order⨝lineitem
    * fact — the Kimball pattern that avoids materializing a dim per
    * role. Output: items by order-year × shipping-lag bucket (ship
    * year − order year), proving both role joins resolve independently
    * against the SAME generated dim (sized 1995–2001 to cover the
    * fixture's full date span — a role join against an under-sized
    * dim silently drops facts, the bug the spec's conservation check
    * would catch). The dim is broadcast twice — two
    * broadcast hash joins; the only shuffle is the fact equi-join on
    * the order key. */
  val joinRolePlayingDates: Q = (s, d) => {
    val dimDate = s.range(1).select(
      explode(expr("sequence(to_date('1995-01-01'), to_date('2001-12-31'), interval 1 day)")).as("dv"))
      .select(col("dv"), year(col("dv")).as("yr"))
    val fact = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), to_date(col("l_shipdate")).as("sd"))
      .join(orders(s, d).select(col("o_orderkey").as("ok"),
        to_date(col("o_orderdate")).as("od")), Seq("ok"))
    fact
      .join(broadcast(dimDate.select(col("dv").as("od"), col("yr").as("order_year"))), Seq("od"))
      .join(broadcast(dimDate.select(col("dv").as("sd"), col("yr").as("ship_year"))), Seq("sd"))
      .groupBy(col("order_year"), (col("ship_year") - col("order_year")).as("year_lag"))
      .agg(count(lit(1)).as("n_items"))
      .orderBy("order_year", "year_lag")
  }

  val joinRolePlayingDatesSql: String =
    """WITH dim AS (
      |  SELECT CAST(dv AS DATE) AS dv, CAST(year(dv) AS INT) AS yr
      |  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS dv)),
      |fact AS (
      |  SELECT CAST(o.o_orderdate AS DATE) AS od, CAST(l.l_shipdate AS DATE) AS sd
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
      |SELECT od_dim.yr AS order_year, CAST(sd_dim.yr - od_dim.yr AS INT) AS year_lag,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM fact
      |JOIN dim od_dim ON od_dim.dv = fact.od
      |JOIN dim sd_dim ON sd_dim.dv = fact.sd
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text-collocation-pmi", textCollocationPmi, textCollocationPmiSql),
    Key("ann-knn-graph", annKnnGraph, annKnnGraphSql),
    Key("join-role-playing-dates", joinRolePlayingDates, joinRolePlayingDatesSql))
}
