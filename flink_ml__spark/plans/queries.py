"""The engine's query inventory: every SURVEY §2 operator (plus the
north-star pipeline operators) instantiated against the driver's test
tables, each paired with an ANSI-SQL oracle DuckDB can replay.

Contract (driver's t2 gate): for each name, ``QUERIES[name](spark,
sf_dir)`` and ``ORACLES[name]`` must produce identical row counts,
column names, and values. Floating outputs are rounded to 6 dp ON BOTH
SIDES so partial-aggregation order differences between engines cannot
flip a value hash. Iterative/seeded operators (FCM, Canopy) have no SQL
equivalent → no oracle entry (driver records rows-only).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ml__spark.functions.dedup import (
    MERSENNE31,
    EmbeddingCosineDeduplicator,
    ExactDeduplicator,
    MinHashDeduplicator,
    NgramJaccardDeduplicator,
    SimHashDeduplicator,
    SubstringDeduplicator,
)
from flink_ml__spark.functions.feature_gen import (
    MeanImputer,
    StandardScaler,
    TimeFeatureExtractor,
)
from flink_ml__spark.functions.similarity import CosineTopK
from flink_ml__spark.functions.text import (
    LANG_PROFILES,
    Fingerprinter,
    LanguageIdentifier,
    QualityScorer,
    TokenCounter,
)
from flink_ml__spark.operators.ahp import AHP, OnlineAHP, ahp_weight_vector
from flink_ml__spark.operators.apriori import Apriori
from flink_ml__spark.operators.canopy import Canopy
from flink_ml__spark.operators.fcm import FCM
from flink_ml__spark.operators.online_topsis import OnlineTopsis
from flink_ml__spark.operators.topsis import Topsis
from flink_ml__spark.sources import load_table

R = 6  # rounding for float outputs, applied identically on both sides

def _fq(c, nd=R):
    """Cross-engine-stable fixed-point quantizer:
    floor(x*10^nd + 0.5) / 10^nd — nearest-decimal via IEEE-exact ops.
    The SQL twin is floor((x) * 1e{nd} + 0.5) / 1e{nd}. Unlike
    round(), whose implementations (BigDecimal HALF_UP vs float-math)
    diverge on boundary values even for bit-identical inputs, every
    operation here is IEEE-exact, so identical inputs quantize
    identically in any engine. The + 0.5 matters: bare floor truncates,
    so exact-decimal data (prices in cents) sits within 1 ulp of the
    quantization boundary and engine summation-order noise flips it
    (seen: 6.55 vs 6.549999 on ewma/ltv/lorenz); with + 0.5 those
    values sit half a decimal step away from the boundary."""
    c = F.col(c) if isinstance(c, str) else c
    s = float(10 ** nd)
    return F.floor(c * s + 0.5) / s


# ---------------------------------------------------------------------------
# shared configs
# ---------------------------------------------------------------------------

AHP_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
AHP_TYPES = [1, 1, 0, 0]
AHP_MATRIX = [
    [1.0, 0.5, 2.0, 2.0],
    [2.0, 1.0, 3.0, 3.0],
    [0.5, 1 / 3, 1.0, 1.0],
    [0.5, 1 / 3, 1.0, 1.0],
]
AHP_W = ahp_weight_vector(AHP_MATRIX)

OAHP_MATRIX = [[1.0, 2.0], [0.5, 1.0]]
OAHP_W = ahp_weight_vector(OAHP_MATRIX)

TOPSIS_TYPES = [1, 2]          # p_retailprice max, p_size min
TOPSIS_WEIGHTS = [0.6, 0.4]

OT_TYPES = [1, 2]              # events: value max, props-length min
OT_WEIGHTS = [0.5, 0.5]

EMB_DIMS = 64


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "events", sf_dir)


# ---------------------------------------------------------------------------
# 1. AHP (batch)
# ---------------------------------------------------------------------------

def q_ahp_score_lineitem(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    op = (AHP().setInputCols(AHP_COLS).setJudgmentMatrix(AHP_MATRIX)
          .setIndicatorType(AHP_TYPES).setOutputCol("ahp_score"))
    out = op.transform(li)
    return out.select("l_orderkey", "l_linenumber",
                      _fq("ahp_score").alias("ahp_score"))


def _ahp_oracle(cols, types, ahp_w, table, keys):
    n = len(cols)
    mnmx = ", ".join(
        f"min({c}) AS mn{j}, max({c}) AS mx{j}" for j, c in enumerate(cols))
    norm = ", ".join(
        (f"(({c} - mn{j}) / (mx{j} - mn{j})) AS n{j}" if types[j] == 1 else
         f"((mx{j} - {c}) / (mx{j} - mn{j})) AS n{j}")
        for j, c in enumerate(cols))
    sums = ", ".join(
        f"sum(n{j}) AS s{j}, "
        f"sum(CASE WHEN n{j} <> 0 THEN n{j} * ln(n{j}) ELSE 0 END) AS t{j}"
        for j in range(n)) + ", count(*) AS cnt"
    d = ", ".join(
        f"(1 + (1.0/ln(cnt)) * (t{j}/s{j} - ln(s{j}))) AS d{j}"
        for j in range(n))
    dsum = " + ".join(f"d{j}" for j in range(n))
    score = " + ".join(
        f"n{j} * (d{j}/({dsum})) * {ahp_w[j]!r}" for j in range(n))
    keycols = ", ".join(keys)
    return f"""
WITH stats AS (SELECT {mnmx} FROM {table}),
norm AS (SELECT {keycols}, {norm} FROM {table}, stats),
sums AS (SELECT {sums} FROM norm),
dvals AS (SELECT {d} FROM sums),
scored AS (SELECT {keycols}, {score} AS raw_score FROM norm, dvals)
SELECT {keycols}, floor((raw_score) * 1e{R} + 0.5) / 1e{R} AS ahp_score FROM scored
"""


ORACLE_AHP = _ahp_oracle(AHP_COLS, AHP_TYPES, AHP_W, "lineitem",
                         ["l_orderkey", "l_linenumber"])

# ---------------------------------------------------------------------------
# 2. TOPSIS (batch)
# ---------------------------------------------------------------------------

def q_topsis_score_part(spark, sf_dir):
    part = load_table(spark, "part", sf_dir).withColumn(
        "features", F.array("p_retailprice", F.col("p_size").cast("double")))
    op = (Topsis().setCriteriaTypes(TOPSIS_TYPES).setWeights(TOPSIS_WEIGHTS)
          .setPredictionCol("topsis_score"))
    out = op.transform(part)
    return out.select("p_partkey",
                      _fq("topsis_score").alias("topsis_score"))


ORACLE_TOPSIS = f"""
WITH stats AS (SELECT max(p_size::DOUBLE) AS mx1 FROM part),
pos AS (SELECT p_partkey, p_retailprice AS v0, mx1 - p_size::DOUBLE AS v1
        FROM part, stats),
ssq AS (SELECT sum(v0*v0) AS q0, sum(v1*v1) AS q1,
               max(v0) AS vmax0, min(v0) AS vmin0,
               max(v1) AS vmax1, min(v1) AS vmin1 FROM pos),
u AS (SELECT p_partkey,
             v0 / sqrt(q0) * {TOPSIS_WEIGHTS[0]} AS u0,
             v1 / sqrt(q1) * {TOPSIS_WEIGHTS[1]} AS u1,
             vmax0 / sqrt(q0) * {TOPSIS_WEIGHTS[0]} AS z0,
             vmax1 / sqrt(q1) * {TOPSIS_WEIGHTS[1]} AS z1,
             vmin0 / sqrt(q0) * {TOPSIS_WEIGHTS[0]} AS w0,
             vmin1 / sqrt(q1) * {TOPSIS_WEIGHTS[1]} AS w1
      FROM pos, ssq)
SELECT p_partkey,
       floor((sqrt((w0-u0)*(w0-u0) + (w1-u1)*(w1-u1)) /
             (sqrt((z0-u0)*(z0-u0) + (z1-u1)*(z1-u1)) +
              sqrt((w0-u0)*(w0-u0) + (w1-u1)*(w1-u1)))) * 1e{R} + 0.5) / 1e{R} AS topsis_score
FROM u
"""

# ---------------------------------------------------------------------------
# 3. OnlineAHP (windowed)
# ---------------------------------------------------------------------------

def q_online_ahp_events(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "props_len", F.length("props").cast("double"))
    op = (OnlineAHP().setInputCols(["value", "props_len"])
          .setJudgmentMatrix(OAHP_MATRIX).setIndicatorType([1, 0])
          .setWindows("1 day").setTimeCol("ts").setOutputCol("win_score"))
    out = op.transform(ev)
    return out.select("event_id", _fq("win_score").alias("win_score"))


ORACLE_ONLINE_AHP = f"""
WITH base AS (
  SELECT event_id, value AS c0, length(props)::DOUBLE AS c1,
         time_bucket(INTERVAL 1 day, ts) AS win
  FROM events),
s1 AS (
  SELECT *, max(c0) OVER w AS mx0, min(c0) OVER w AS mn0,
            max(c1) OVER w AS mx1, min(c1) OVER w AS mn1
  FROM base WINDOW w AS (PARTITION BY win)),
s2 AS (
  SELECT *, (c0 - mn0)/(mx0 - mn0) AS n0, (mx1 - c1)/(mx1 - mn1) AS n1
  FROM s1),
s3 AS (
  SELECT *, sum(n0) OVER w AS sum0, sum(n1) OVER w AS sum1
  FROM s2 WINDOW w AS (PARTITION BY win)),
s4 AS (
  SELECT *,
    sum(CASE WHEN n0/sum0 <> 0 THEN (n0/sum0)*ln(n0/sum0) ELSE 0 END)
      OVER w AS e0,
    sum(CASE WHEN n1/sum1 <> 0 THEN (n1/sum1)*ln(n1/sum1) ELSE 0 END)
      OVER w AS e1
  FROM s3 WINDOW w AS (PARTITION BY win)),
s5 AS (
  SELECT event_id, n0, n1,
         1 + (1.0/ln(2)) * e0 AS d0, 1 + (1.0/ln(2)) * e1 AS d1
  FROM s4)
SELECT event_id,
       floor((n0 * (d0/(d0+d1)) * {OAHP_W[0]!r}
           + n1 * (d1/(d0+d1)) * {OAHP_W[1]!r}) * 1e{R} + 0.5) / 1e{R} AS win_score
FROM s5
"""

# ---------------------------------------------------------------------------
# 4/5. OnlineTopsis model + predictions
# ---------------------------------------------------------------------------

def _events_features(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.unix_millis("ts").alias("id"),
        F.col("ts").alias("rowtime"),
        F.array(F.col("value"),
                F.length("props").cast("double")).alias("features"))


def _online_topsis_model(spark, sf_dir):
    df = _events_features(spark, sf_dir)
    est = (OnlineTopsis().setCriteriaTypes(OT_TYPES).setWeights(OT_WEIGHTS)
           .setWindows("1 day").setTimeCol("rowtime"))
    return est.fit(df), df


def q_online_topsis_model_events(spark, sf_dir):
    model, _ = _online_topsis_model(spark, sf_dir)
    return (model.getModelData()
            .select("timestamp", "minTimestamp",
                    _fq("score").alias("score"))
            )


_OT_MEANS = """
WITH base AS (
  SELECT epoch_ms(ts) AS id, value AS c0, length(props)::DOUBLE AS c1,
         time_bucket(INTERVAL 1 day, ts) AS win
  FROM events),
means AS (
  SELECT epoch_ms(win + INTERVAL 1 day) - 1 AS timestamp,
         min(id) AS minTimestamp, avg(c0) AS m0, avg(c1) AS m1
  FROM base GROUP BY win),
stats AS (SELECT max(m1) AS mx1 FROM means),
pos AS (SELECT timestamp, minTimestamp, m0 AS v0, mx1 - m1 AS v1
        FROM means, stats),
ssq AS (SELECT sum(v0*v0) AS q0, sum(v1*v1) AS q1,
               max(v0) AS vmax0, min(v0) AS vmin0,
               max(v1) AS vmax1, min(v1) AS vmin1 FROM pos),
u AS (SELECT timestamp, minTimestamp,
             v0/sqrt(q0)*{w0} AS u0, v1/sqrt(q1)*{w1} AS u1,
             vmax0/sqrt(q0)*{w0} AS z0, vmax1/sqrt(q1)*{w1} AS z1,
             vmin0/sqrt(q0)*{w0} AS wl0, vmin1/sqrt(q1)*{w1} AS wl1
      FROM pos, ssq),
scored AS (
  SELECT timestamp, minTimestamp,
         sqrt((wl0-u0)*(wl0-u0) + (wl1-u1)*(wl1-u1)) /
         (sqrt((z0-u0)*(z0-u0) + (z1-u1)*(z1-u1)) +
          sqrt((wl0-u0)*(wl0-u0) + (wl1-u1)*(wl1-u1))) AS raw_score
  FROM u)
""".format(w0=OT_WEIGHTS[0], w1=OT_WEIGHTS[1])

ORACLE_ONLINE_TOPSIS_MODEL = _OT_MEANS + f"""
SELECT timestamp, minTimestamp, floor((raw_score) * 1e{R} + 0.5) / 1e{R} AS score FROM scored
"""


def q_online_topsis_predict_events(spark, sf_dir):
    model, df = _online_topsis_model(spark, sf_dir)
    out = model.setPredictionCol("score").transform(df)
    return out.select("event_id", _fq("score").alias("score"))


ORACLE_ONLINE_TOPSIS_PREDICT = _OT_MEANS + f"""
SELECT e.event_id, floor((s.raw_score) * 1e{R} + 0.5) / 1e{R} AS score
FROM events e JOIN scored s
  ON epoch_ms(e.ts) >= s.minTimestamp AND epoch_ms(e.ts) <= s.timestamp
"""

# ---------------------------------------------------------------------------
# 6. Apriori
# ---------------------------------------------------------------------------

def q_apriori_rules_events(spark, sf_dir):
    ev = _events(spark, sf_dir)
    baskets = (ev.groupBy("user_id")
               .agg(F.array_join(F.array_sort(F.collect_set("event_type")),
                                 "/").alias("items")))
    op = (Apriori().setInputCols("items").setItemSeparator("/")
          .setMinSupport(0.2).setMinConfidence(0.3).setLift(1.0))
    out = op.transform(baskets)
    return out.select(
        F.array_join("itemSet", ",").alias("item_set"),
        F.col("count").cast("bigint").alias("cnt"),
        _fq("support").alias("support"),
        _fq("confidence").alias("confidence"),
        _fq("lift").alias("lift"),
        F.array_join("prefix", ",").alias("prefix_s"),
        F.array_join("suffix", ",").alias("suffix_s"))


ORACLE_APRIORI = f"""
WITH RECURSIVE baskets AS (
  SELECT user_id, list_sort(list_distinct(list(event_type))) AS items
  FROM events GROUP BY user_id),
n AS (SELECT count(*) AS total FROM baskets),
sub AS (
  SELECT user_id, items, i AS lastpos, [items[i]] AS itemset
  FROM baskets, LATERAL (SELECT unnest(range(1, len(items) + 1)) AS i) t
  UNION ALL
  SELECT user_id, items, j, list_append(itemset, items[j])
  FROM sub, LATERAL (SELECT unnest(range(lastpos + 1, len(items) + 1)) AS j) t
),
counts AS (
  SELECT itemset, count(*)::BIGINT AS cnt FROM sub GROUP BY itemset),
freq AS (
  SELECT itemset, cnt, cnt::DOUBLE / total AS support
  FROM counts, n WHERE cnt::DOUBLE / total >= 0.2),
splits AS (
  SELECT f.itemset, f.cnt, f.support,
         list_transform(
           list_filter(range(1, len(f.itemset) + 1),
                       i -> (mask >> (i - 1)) & 1 = 1),
           i -> f.itemset[i]) AS prefix,
         list_transform(
           list_filter(range(1, len(f.itemset) + 1),
                       i -> (mask >> (i - 1)) & 1 = 0),
           i -> f.itemset[i]) AS suffix
  FROM freq f,
       LATERAL (SELECT unnest(range(1, (1 << len(f.itemset)) - 1)) AS mask) m
  WHERE len(f.itemset) >= 2),
rules AS (
  SELECT s.prefix, s.suffix, s.cnt, s.support,
         s.cnt::DOUBLE / fq.cnt AS confidence,
         (s.cnt::DOUBLE / fq.cnt) / fp.support AS lift
  FROM splits s
  JOIN freq fq ON fq.itemset = s.suffix
  JOIN freq fp ON fp.itemset = s.prefix),
all_rules AS (
  SELECT array_to_string(list_concat(prefix, suffix), ',') AS item_set,
         cnt, support, confidence, lift,
         array_to_string(prefix, ',') AS prefix_s,
         array_to_string(suffix, ',') AS suffix_s
  FROM rules
  UNION ALL
  SELECT array_to_string(itemset, ','), cnt, support, support, 1.0,
         '', ''
  FROM freq WHERE len(itemset) = 1)
SELECT item_set, cnt, floor((support) * 1e{R} + 0.5) / 1e{R} AS support,
       floor((confidence) * 1e{R} + 0.5) / 1e{R} AS confidence, floor((lift) * 1e{R} + 0.5) / 1e{R} AS lift,
       prefix_s, suffix_s
FROM all_rules
WHERE confidence >= 0.3 AND lift >= 1.0
"""

# ---------------------------------------------------------------------------
# 7/8. FCM + Canopy (iterative, seeded — invariant gates; the free
# cluster-size outputs live in pytest goldens, not the driver gate)
# ---------------------------------------------------------------------------

def q_fcm_embeddings_clusters(spark, sf_dir):
    """Partition-invariant gate for the seeded-iterative FCM (the
    free per-cluster sizes are seeded output with no SQL oracle, so
    they are pytest-only; this entry hash-checks what IS provable):
    emits (a) any row whose prediction is outside [0, k), (b) a
    sentinel if the per-cluster sizes do not sum back to the input
    count (every point assigned exactly once), (c) a sentinel if more
    than k distinct clusters appear. Complementary to
    ``fcm_invariants_embeddings`` (prediction == nearest centroid).
    Expected EMPTY; WHERE-false oracle makes this hash-checked."""
    k = 4
    emb = load_table(spark, "embeddings", sf_dir)
    model = (FCM().setK(k).setSeed(42).setMaxIter(10)
             .setFeaturesCol("embedding").fit(emb))
    out = model.transform(emb)
    out_of_range = (out.filter((F.col("prediction") < 0)
                               | (F.col("prediction") >= k))
                    .select("vec_id",
                            F.lit("prediction_out_of_range")
                            .alias("violation")))
    sizes = out.groupBy("prediction").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    total = emb.select(F.count(F.lit(1)).alias("__t"))
    sums = sizes.agg(F.sum("cluster_size").alias("__s"),
                     F.count(F.lit(1)).alias("__k"))
    sentinels = (sums.crossJoin(total)
                 .filter((F.col("__s") != F.col("__t"))
                         | (F.col("__k") > k))
                 .select(F.lit(-1).cast("long").alias("vec_id"),
                         F.lit("partition_broken").alias("violation")))
    return out_of_range.unionByName(sentinels)


ORACLE_FCM_PARTITION = """
SELECT vec_id::BIGINT AS vec_id, '' AS violation
FROM embeddings WHERE false
"""


def q_canopy_customer(spark, sf_dir):
    """Coverage + center-separation gate for seeded-iterative Canopy
    (the free per-canopy sizes are seeded output with no SQL oracle,
    so they are pytest-only; this entry hash-checks what IS provable):
    emits (a) any input point that landed in NO canopy — canopy
    guarantees every point is within T2 of some center, and T2 < T1
    means it must be a member there — and (b) any pair of canopy
    centers closer than T2 (a point inside an existing center's T2
    ball is deleted from the candidate pool, so it can never become a
    center itself). Complementary to ``canopy_invariants_customer``
    (every membership edge within T1). Expected EMPTY; WHERE-false
    oracle makes this hash-checked."""
    t2 = 4.0
    cust = load_table(spark, "customer", sf_dir).withColumn(
        "features",
        F.array(F.col("c_acctbal") / 1000.0,
                F.col("c_nationkey").cast("double")))
    flat = (Canopy().setT1(8.0).setT2(t2).setSeed(42).setMaxIter(30)
            .assign(cust))
    uncovered = (cust.select("features")
                 .join(flat.select(F.col("point").alias("features")),
                       "features", "left_anti")
                 .select(F.lit("uncovered_point").alias("violation"),
                         _fq(F.element_at("features", 1))
                         .alias("x1"),
                         _fq(F.element_at("features", 2))
                         .alias("x2")))
    centers = (flat.groupBy("canopy_id")
               .agg(F.first("centroid").alias("c")))
    # all-pairs over CENTERS only — O(canopies) rows by construction
    # (T2 separation bounds the center count), so the small side
    # broadcasts and this is never a data-scale cross join
    a, b = centers.alias("a"), centers.alias("b")
    dist = F.sqrt(F.aggregate(
        F.zip_with("a.c", "b.c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    too_close = (a.crossJoin(F.broadcast(b))
                 .filter(F.col("a.canopy_id") < F.col("b.canopy_id"))
                 .filter(dist < F.lit(t2))
                 .select(F.lit("centers_within_t2").alias("violation"),
                         F.col("a.canopy_id").cast("double").alias("x1"),
                         F.col("b.canopy_id").cast("double").alias("x2")))
    return uncovered.unionByName(too_close)


ORACLE_CANOPY_COVERAGE = """
SELECT '' AS violation, 0.0::DOUBLE AS x1, 0.0::DOUBLE AS x2
FROM customer WHERE false
"""


def q_fcm_invariants_embeddings(spark, sf_dir):
    """Hard gate for the seeded-iterative FCM (whose cluster assignment
    has no SQL oracle): emits every point whose model prediction is NOT
    its nearest final centroid — recomputed through an independent
    pure-Catalyst expression path (the model predicts via numpy argmax
    of memberships, which must equal argmin distance). Expected EMPTY;
    WHERE-false oracle makes this a count/hash-checked row."""
    emb = load_table(spark, "embeddings", sf_dir)
    model = (FCM().setK(4).setSeed(42).setMaxIter(10)
             .setFeaturesCol("embedding").fit(emb))
    out = model.transform(emb)
    arr = F.transform("embedding", lambda x: x.cast("double"))
    dists = F.array(*[
        F.aggregate(
            F.zip_with(arr, F.array(*[F.lit(float(v)) for v in c]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        for c in model.centroids])
    nearest = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return (out.withColumn("__nearest", nearest)
            .filter(F.col("prediction") != F.col("__nearest"))
            .select("vec_id", "prediction",
                    F.col("__nearest").alias("nearest_centroid")))


ORACLE_FCM_INVARIANTS = """
SELECT vec_id::BIGINT AS vec_id, 0::INT AS prediction,
       0::INT AS nearest_centroid
FROM embeddings WHERE false
"""


def q_pca_invariants_embeddings(spark, sf_dir):
    """Hard gate for EmbeddingPCA (eigendecomposition has no SQL
    oracle): emits one row per violated invariant — (a) a component
    pair that is not orthonormal within 1e-8, (b) a projected
    component whose SAMPLE VARIANCE over the data differs from its
    eigenvalue by more than 1e-6 relative (the defining property of
    PCA, recomputed through an independent aggregation over the
    transformed frame), (c) an eigenvalue out of descending order.
    Expected EMPTY; WHERE-false oracle makes this a hash-checked row.
    """
    import numpy as np

    from flink_ml__spark.functions.similarity import EmbeddingPCA

    emb = load_table(spark, "embeddings", sf_dir)
    model = EmbeddingPCA().setK(4).fit(emb)
    W = np.asarray(model._components)
    ev = model._eigvals
    driver_viol = []
    G = W @ W.T - np.eye(len(W))
    if np.abs(G).max() > 1e-8:
        driver_viol.append(("orthonormality", float(np.abs(G).max())))
    for i in range(1, len(ev)):
        if ev[i] > ev[i - 1]:
            driver_viol.append((f"eig_order_{i}", float(ev[i])))
    proj = model.transform(emb)
    k = len(ev)
    aggs = []
    for i in range(k):
        c = F.element_at("pca", i + 1)
        aggs += [F.var_samp(c).alias(f"v{i}")]
    row = proj.agg(*aggs).collect()[0]
    for i in range(k):
        if abs(row[f"v{i}"] - ev[i]) > 1e-6 * max(abs(ev[i]), 1e-12):
            driver_viol.append((f"variance_{i}", float(row[f"v{i}"])))
    return emb.sparkSession.createDataFrame(
        driver_viol, "invariant string, value double")


ORACLE_PCA_INVARIANTS = """
SELECT 'x' AS invariant, 0.0::DOUBLE AS value FROM embeddings
WHERE false
"""


def q_canopy_invariants_customer(spark, sf_dir):
    """Hard gate for seeded-iterative Canopy: every membership edge must
    satisfy dist(point, center) < T1 (center self-rows are distance 0).
    Violations emitted; expected EMPTY with a WHERE-false oracle."""
    cust = load_table(spark, "customer", sf_dir).withColumn(
        "features",
        F.array(F.col("c_acctbal") / 1000.0,
                F.col("c_nationkey").cast("double")))
    flat = (Canopy().setT1(8.0).setT2(4.0).setSeed(42).setMaxIter(30)
            .assign(cust))
    dist = F.sqrt(F.aggregate(
        F.zip_with("point", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x))
    return (flat.withColumn("__dist", dist)
            .filter(F.col("__dist") >= F.lit(8.0))
            .select("canopy_id", _fq("__dist").alias("dist")))


ORACLE_CANOPY_INVARIANTS = """
SELECT 0::INT AS canopy_id, 0.0::DOUBLE AS dist
FROM customer WHERE false
"""


# ---------------------------------------------------------------------------
# 9/10/11. feature generation
# ---------------------------------------------------------------------------

def q_mean_imputer_orders(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    model = MeanImputer().setInputCol("o_totalprice").fit(orders)
    return model.transform(orders).select(
        _fq("imputed_value").alias("imputed_value"))


ORACLE_MEAN_IMPUTER = f"""
SELECT floor((coalesce(o_totalprice,
             (SELECT avg(o_totalprice) FROM orders))) * 1e{R} + 0.5) / 1e{R} AS imputed_value
FROM orders
"""


def q_standard_scaler_lineitem(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    model = StandardScaler().setInputCol("l_tax").fit(li)
    return model.transform(li).select(
        _fq("scaled_value").alias("scaled_value"))


ORACLE_STANDARD_SCALER = f"""
WITH s AS (SELECT avg(l_tax) AS m, stddev_samp(l_tax) AS sd FROM lineitem)
SELECT floor(((l_tax - m) / sd) * 1e{R} + 0.5) / 1e{R} AS scaled_value FROM lineitem, s
"""


def q_time_features_orders(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "date_str", F.date_format("o_orderdate", "yyyy-MM-dd"))
    return TimeFeatureExtractor().setInputCol("date_str").transform(orders)


ORACLE_TIME_FEATURES = """
SELECT year(o_orderdate)::INT AS year,
       lpad(month(o_orderdate)::VARCHAR, 2, '0') AS month,
       lpad(day(o_orderdate)::VARCHAR, 2, '0') AS day
FROM orders
"""

# ---------------------------------------------------------------------------
# 12-16. dedup family
# ---------------------------------------------------------------------------

_NORM_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


def q_dedup_exact_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return ExactDeduplicator().transform(docs).select("doc_id")


ORACLE_DEDUP_EXACT = f"""
SELECT min(doc_id) AS doc_id FROM (
  SELECT doc_id, {_NORM_SQL} AS fp FROM documents) GROUP BY fp
"""

# portable tokenize/shingle fragments for the dedup oracles
_TOK_SQL = ("list_filter(string_split_regex(lower(text), "
            "'[^a-zA-Z0-9'']+'), x -> x <> '')")


def _shingle_sql(n: int) -> str:
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len(toks) - {n} + 2), "
        f"i -> array_to_string(list_slice(toks, i, i + {n} - 1), ' '))) "
        f"ELSE [array_to_string(toks, ' ')] END")


_H60 = "(('0x' || substring(md5({x}), 1, 15))::BIGINT)"


def q_dedup_exact_against_documents(spark, sf_dir):
    """Incremental exact dedup: drop documents whose normalized
    fingerprint appears in the benchmark subset (doc_id % 97 == 0)."""
    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 97 == 0)
    out = ExactDeduplicator().transform_against(docs, corpus)
    return out.select("doc_id")


ORACLE_DEDUP_EXACT_AGAINST = f"""
WITH fp AS (SELECT doc_id, {_NORM_SQL} AS fp FROM documents),
bfp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 97 = 0)
SELECT doc_id FROM fp WHERE fp NOT IN (SELECT fp FROM bfp)
"""


def q_dedup_bloom_documents(spark, sf_dir):
    """Bloom-filter membership dedup: even doc_ids are the reference
    corpus, odd doc_ids the incoming batch; the small m (2048 bits)
    deliberately produces a few false positives so the gate pins the
    bloom semantics, not just the exact-dup path — the oracle replays
    every probe position from the md5 hex, so the kept set (FPs
    included) must match bit-for-bit."""
    from flink_ml__spark.functions.dedup import BloomCorpusDeduplicator

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    newdocs = docs.filter(F.col("doc_id") % 2 == 1)
    op = BloomCorpusDeduplicator().setNumBits(2048).setNumHashes(4)
    return op.transform_against(newdocs, corpus).select("doc_id")


ORACLE_DEDUP_BLOOM = f"""
WITH fp AS (SELECT doc_id, {_NORM_SQL} AS h FROM documents),
hh AS (SELECT doc_id,
              ('0x' || substring(h, 1, 15))::BIGINT AS h1,
              ('0x' || substring(h, 16, 15))::BIGINT AS h2
       FROM fp),
cpos AS (SELECT DISTINCT ((h1 + i * h2) % 2048) AS p
         FROM hh, unnest(range(0, 4)) AS r(i)
         WHERE doc_id % 2 = 0),
newdocs AS (SELECT * FROM hh WHERE doc_id % 2 = 1),
hits AS (SELECT n.doc_id, count(*) AS nhit
         FROM newdocs n, unnest(range(0, 4)) AS r(i)
         WHERE ((n.h1 + i * n.h2) % 2048) IN (SELECT p FROM cpos)
         GROUP BY n.doc_id)
SELECT doc_id FROM newdocs
WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE nhit = 4)
"""


def q_dedup_minhash_against_documents(spark, sf_dir):
    """Incremental MinHash near-dedup gate: even-id documents are the
    curated corpus, odd-id documents the incoming crawl; crawl docs
    near-duplicating ANY corpus doc (banded-LSH candidates, exact
    shingle-Jaccard verify) drop. This is the production
    score-the-new-crawl shape (``MinHashDeduplicator.transform_against``,
    ``functions/dedup.py``) that the streaming twin
    ``stream_minhash_dedup_against_corpus`` replays per micro-batch."""
    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    crawl = docs.filter(F.col("doc_id") % 2 == 1)
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    return op.transform_against(crawl, corpus).select("doc_id")


def _oracle_minhash_against() -> str:
    """DuckDB replay of ``transform_against``: one shingle/signature
    pass over both halves, band equi-join restricted to crawl×corpus,
    Jaccard verification on the string shingles (equivalent to the
    operator's 60-bit-hash verification modulo md5 collisions — same
    convention as ``_minhash_dup_ctes``)."""
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    coeffs = op.hash_coefficients()
    rows = op.getNumHashes() // op.getBands()
    sig_terms = ", ".join(
        f"list_min(list_transform(xs.xs, x -> ({a} * (x % {MERSENNE31}) "
        f"+ {b}) % {MERSENNE31}))"
        for a, b in coeffs)
    band_terms = ", ".join(
        f"struct_pack(band := {b}, key := array_to_string("
        f"list_slice(sig, {b * rows + 1}, {b * rows + rows}), ','))"
        for b in range(op.getBands()))
    return f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(op.getShingleSize())} AS sh
       FROM toks),
xs AS (SELECT doc_id, sh,
              list_transform(sh, s -> {_H60.format(x='s')}) AS xs
       FROM sh),
sig AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM xs),
bands AS (SELECT doc_id, sh, unnest([{band_terms}]) AS b FROM sig),
cand AS (SELECT DISTINCT n.doc_id AS id_n, n.sh AS sh_n, c.sh AS sh_c
         FROM bands n JOIN bands c ON n.b = c.b
         WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
dups AS (SELECT DISTINCT id_n FROM cand
         WHERE len(list_intersect(sh_n, sh_c))::DOUBLE /
               len(list_distinct(list_concat(sh_n, sh_c)))
               >= {op.getThreshold()!r})
SELECT doc_id FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT id_n FROM dups)
"""


def q_dedup_minhash_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    return op.transform(docs).select("doc_id")


def _minhash_dup_ctes(op, src: str, p: str = "") -> str:
    """CTE block ``<p>toks, …, <p>dups`` computing the MinHash duplicate
    id set (column ``id_r``) over the given source relation —
    parameterized so composed pipelines can dedup intermediate results.
    ``p`` prefixes the CTE names to avoid collisions.

    Two candidate shapes are exposed, mirroring the Spark operator:
    ``<p>pairs`` is the ALL-pairs bucket self-join (consumed by the
    pair-set queries: clustering, leakage audit, recall telemetry),
    while ``<p>dups`` replays the ``transform()`` dedup path's STAR
    pairing — each bucket member paired only with the bucket's min-id
    representative (``MinHashDeduplicator.dominated_ids``), the bound
    that keeps duplicate mega-clusters linear instead of quadratic."""
    coeffs = op.hash_coefficients()
    rows = op.getNumHashes() // op.getBands()
    sig_terms = ", ".join(
        f"list_min(list_transform({p}xs.xs, x -> ({a} * (x % {MERSENNE31}) + {b}) % {MERSENNE31}))"
        for a, b in coeffs)
    band_terms = ", ".join(
        f"struct_pack(band := {b}, key := array_to_string("
        f"list_slice(sig, {b * rows + 1}, {b * rows + rows}), ','))"
        for b in range(op.getBands()))
    return f"""
{p}toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM {src}),
{p}sh AS (SELECT doc_id, {_shingle_sql(op.getShingleSize())} AS sh
          FROM {p}toks),
{p}xs AS (SELECT doc_id, sh,
              list_transform(sh, s -> {_H60.format(x='s')})
              AS xs FROM {p}sh),
{p}sig AS (SELECT doc_id, sh, [{sig_terms}] AS sig FROM {p}xs),
{p}bands AS (SELECT doc_id, sh, unnest([{band_terms}]) AS b FROM {p}sig),
{p}pairs AS (
  SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r,
         l.sh AS sh_l, r.sh AS sh_r
  FROM {p}bands l JOIN {p}bands r ON l.b = r.b AND l.doc_id < r.doc_id),
{p}reps AS (SELECT b, min(doc_id) AS rep FROM {p}bands GROUP BY b),
{p}spairs AS (
  SELECT DISTINCT r.rep AS id_l, m.doc_id AS id_r,
         rs.sh AS sh_l, m.sh AS sh_r
  FROM {p}bands m
  JOIN {p}reps r ON m.b = r.b AND m.doc_id > r.rep
  JOIN {p}sh rs ON rs.doc_id = r.rep),
{p}dups AS (
  SELECT DISTINCT id_r FROM {p}spairs
  WHERE len(list_intersect(sh_l, sh_r))::DOUBLE /
        len(list_distinct(list_concat(sh_l, sh_r))) >= {op.getThreshold()!r})"""


def _oracle_minhash() -> str:
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    return f"""
WITH {_minhash_dup_ctes(op, "documents")}
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_r FROM dups)
"""


def q_dedup_simhash_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    op = SimHashDeduplicator().setHammingThreshold(3)
    return op.transform(docs).select("doc_id")


def _oracle_simhash() -> str:
    op = SimHashDeduplicator().setHammingThreshold(3)
    width = op.N_BITS // op.N_BANDS
    bitsums = ", ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(op.N_BITS))
    simexpr = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(op.N_BITS))
    band_terms = ", ".join(
        f"struct_pack(band := {b}, key := (simhash >> {b * width}) & "
        f"{(1 << width) - 1})"
        for b in range(op.N_BANDS))
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({_TOK_SQL}) AS toks
              FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
h AS (SELECT doc_id, {_H60.format(x='t')} AS th FROM tok),
votes AS (SELECT doc_id, {bitsums} FROM h GROUP BY doc_id),
sim0 AS (SELECT doc_id, ({simexpr}) AS simhash FROM votes),
sim AS (SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
        FROM documents d LEFT JOIN sim0 s ON d.doc_id = s.doc_id),
bands AS (SELECT doc_id, simhash, unnest([{band_terms}]) AS b FROM sim),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r,
         l.simhash AS h_l, r.simhash AS h_r
  FROM bands l JOIN bands r ON l.b = r.b AND l.doc_id < r.doc_id),
dups AS (SELECT DISTINCT id_r FROM pairs
         WHERE bit_count(xor(h_l, h_r)) <= {op.getHammingThreshold()})
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_r FROM dups)
"""


def q_ngram_jaccard_pairs_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    op = NgramJaccardDeduplicator().setThreshold(0.5)
    pairs = op.duplicate_pairs(docs)
    return pairs.select("id_keep", "id_dup",
                        _fq("jaccard").alias("jaccard"))


def _oracle_ngram_jaccard() -> str:
    op = NgramJaccardDeduplicator().setThreshold(0.5)
    n = op.getShingleSize()
    t = op.getThreshold()
    return f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(n)} AS sh FROM toks),
hs AS (SELECT doc_id, sh,
              list_sort(list_transform(sh, s -> {_H60.format(x='s')}))
                AS hs
       FROM sh),
pre AS (SELECT doc_id, len(hs) AS sz,
               unnest(list_slice(hs, 1,
                      floor({1.0 - t!r} * len(hs))::INT + 1)) AS kh
        FROM hs),
cand AS (
  SELECT DISTINCT l.doc_id AS id_keep, r.doc_id AS id_dup
  FROM pre l JOIN pre r
    ON l.kh = r.kh AND l.doc_id < r.doc_id
   AND l.sz >= {t!r} * r.sz AND r.sz >= {t!r} * l.sz),
pairs AS (
  SELECT c.id_keep, c.id_dup,
         len(list_intersect(l.sh, r.sh))::DOUBLE /
         len(list_distinct(list_concat(l.sh, r.sh))) AS jaccard
  FROM cand c JOIN hs l ON l.doc_id = c.id_keep
              JOIN hs r ON r.doc_id = c.id_dup)
SELECT id_keep, id_dup, floor((jaccard) * 1e{R} + 0.5) / 1e{R} AS jaccard
FROM pairs WHERE jaccard >= {t!r}
"""


def q_minhash_topk_documents(spark, sf_dir):
    """MinHashTopK gate: ranked Jaccard SEARCH (not dedup) — every
    17th document queries the full corpus for its 3 most-similar
    lexical neighbours via banded-LSH candidates + exact-Jaccard
    re-rank + WindowGroupLimit top-k."""
    from flink_ml__spark.functions.dedup import MinHashTopK

    docs = load_table(spark, "documents", sf_dir) \
        .select("doc_id", "text")
    # plant near-duplicates: every 3rd document gains an id-shifted
    # copy with a short suffix, so queries have true high-Jaccard
    # neighbours to rank (raw sf0.01 docs are mutually dissimilar)
    planted = (docs.filter(F.col("doc_id") % 3 == 0)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.concat("text", F.lit(" trailing suffix"))
                        .alias("text")))
    corpus = docs.unionByName(planted)
    queries = docs.filter(F.col("doc_id") % 17 == 0)
    op = (MinHashTopK().setSeed(42).setK(3).setMinJaccard(0.05)
          .setBands(12)   # rows-per-band=1: P(candidate)=1-(1-J)^12,
          # high-recall search banding (vs the dedup default 4x3) —
          # which NEEDS the bucket cap: single-hash band keys
          # concentrate on globally common shingle minima and the
          # uncapped join goes quadratic in those buckets. Measured
          # (isolated, sf0.1): 20.6 s before band_table's single-pass
          # signature projection, 3.8 s after it (the dominant cost
          # was the 12x-inlined minhash recompute, not the join).
          .setMaxBandBucket(64))
    return (op.topk(queries, corpus)
            .select("query_id", "doc_id",
                    _fq("jaccard").alias("jaccard"), "rank"))


def _oracle_minhash_topk() -> str:
    from flink_ml__spark.functions.dedup import MinHashTopK

    op = (MinHashTopK().setSeed(42).setK(3).setMinJaccard(0.05)
          .setBands(12).setMaxBandBucket(64))
    d = op._dedup()
    coeffs = d.hash_coefficients()
    rows = d.getNumHashes() // d.getBands()
    sig_terms = ", ".join(
        f"list_min(list_transform(xs.xs, x -> ({a} * (x % {MERSENNE31})"
        f" + {b}) % {MERSENNE31}))"
        for a, b in coeffs)
    band_terms = ", ".join(
        f"struct_pack(band := {b}, key := array_to_string("
        f"list_slice(sig, {b * rows + 1}, {b * rows + rows}), ','))"
        for b in range(d.getBands()))
    return f"""
WITH corp AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' trailing suffix' AS text
  FROM documents WHERE doc_id % 3 = 0),
toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM corp),
sh AS (SELECT doc_id, {_shingle_sql(d.getShingleSize())} AS sh
       FROM toks),
xs AS (SELECT doc_id, list_transform(sh, s -> {_H60.format(x='s')})
         AS xs FROM sh),
sig AS (SELECT doc_id, [{sig_terms}] AS sig FROM xs),
bands AS (SELECT doc_id, unnest([{band_terms}]) AS b FROM sig),
cb AS (SELECT doc_id, b FROM bands
       QUALIFY count(*) OVER (PARTITION BY b)
               <= {op.getOrDefault(op.maxBandBucket)}),
cand AS (SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS doc_id
         FROM bands q JOIN cb c ON q.b = c.b
         WHERE q.doc_id % 17 = 0 AND q.doc_id < 1000000
           AND q.doc_id <> c.doc_id),
j AS (SELECT cand.query_id, cand.doc_id,
             len(list_intersect(qx.xs, cx.xs))::DOUBLE /
             len(list_distinct(list_concat(qx.xs, cx.xs))) AS jaccard
      FROM cand JOIN xs qx ON qx.doc_id = cand.query_id
                JOIN xs cx ON cx.doc_id = cand.doc_id
      WHERE len(list_distinct(list_concat(qx.xs, cx.xs))) > 0),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY jaccard DESC, doc_id ASC) AS "rank"
      FROM j WHERE jaccard >= {op.getMinJaccard()!r})
SELECT query_id, doc_id, floor((jaccard) * 1e{R} + 0.5) / 1e{R} AS jaccard, "rank"
FROM r WHERE "rank" <= {op.getK()}
"""


def q_dedup_substring_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    op = SubstringDeduplicator().setSpanTokens(8)
    return op.transform(docs).select("doc_id", "n_tokens", "n_removed",
                                     "text_deduped")


def _oracle_substring() -> str:
    op = SubstringDeduplicator().setSpanTokens(8)
    k = op.getSpanTokens()
    m = op.LOC_M
    gram = f"array_to_string(list_slice(toks, i, i + {k} - 1), ' ')"
    return f"""
WITH toks AS (SELECT doc_id, coalesce({_TOK_SQL}, []) AS toks
              FROM documents),
occ AS (
  SELECT doc_id, i AS pos, {_H60.format(x=gram)} AS gh
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {k} + 2)) AS i
        FROM toks WHERE len(toks) >= {k})),
firsts AS (
  SELECT gh, min(doc_id * {m} + pos) AS first_loc
  FROM occ GROUP BY gh HAVING count(*) > 1),
dup_occ AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN firsts f ON o.gh = f.gh
  WHERE o.doc_id * {m} + o.pos <> f.first_loc),
mask AS (
  SELECT DISTINCT doc_id, mp FROM (
    SELECT doc_id, pos + unnest(range(0, {k})) AS mp FROM dup_occ)),
maskl AS (
  SELECT doc_id, list(mp) AS mlist, count(*) AS nrem
  FROM mask GROUP BY doc_id)
SELECT t.doc_id,
       len(t.toks)::BIGINT AS n_tokens,
       coalesce(m.nrem, 0)::BIGINT AS n_removed,
       coalesce(CASE WHEN m.doc_id IS NULL
                     THEN array_to_string(t.toks, ' ')
                     ELSE array_to_string(
                       list_transform(
                         list_filter(range(1, len(t.toks) + 1),
                                     p -> NOT list_contains(m.mlist, p)),
                         p -> t.toks[p]), ' ')
                END, '') AS text_deduped
FROM toks t LEFT JOIN maskl m ON t.doc_id = m.doc_id
"""


def q_substring_decontaminate_documents(spark, sf_dir):
    """Span-level decontamination gate: every ≥6-token span that appears
    anywhere in the planted benchmark subset (doc_id % 97 == 0 — the
    same subset the whole-document ContaminationChecker gate uses) is
    masked out of every training document."""
    docs = load_table(spark, "documents", sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    op = SubstringDeduplicator().setSpanTokens(6)
    out = op.transform_against(docs, benchmark)
    return out.select("doc_id", "n_tokens", "n_removed", "text_deduped")


def _oracle_substring_decontaminate() -> str:
    k = 6
    gram = f"array_to_string(list_slice(toks, i, i + {k} - 1), ' ')"
    return f"""
WITH toks AS (SELECT doc_id, coalesce({_TOK_SQL}, []) AS toks
              FROM documents),
occ AS (
  SELECT doc_id, i AS pos, {_H60.format(x=gram)} AS gh
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {k} + 2)) AS i
        FROM toks WHERE len(toks) >= {k})),
bg AS (SELECT DISTINCT gh FROM occ WHERE doc_id % 97 = 0),
hit AS (SELECT o.doc_id, o.pos FROM occ o JOIN bg ON o.gh = bg.gh),
mask AS (
  SELECT DISTINCT doc_id, mp FROM (
    SELECT doc_id, pos + unnest(range(0, {k})) AS mp FROM hit)),
maskl AS (
  SELECT doc_id, list(mp) AS mlist, count(*) AS nrem
  FROM mask GROUP BY doc_id)
SELECT t.doc_id,
       len(t.toks)::BIGINT AS n_tokens,
       coalesce(m.nrem, 0)::BIGINT AS n_removed,
       coalesce(CASE WHEN m.doc_id IS NULL
                     THEN array_to_string(t.toks, ' ')
                     ELSE array_to_string(
                       list_transform(
                         list_filter(range(1, len(t.toks) + 1),
                                     p -> NOT list_contains(m.mlist, p)),
                         p -> t.toks[p]), ' ')
                END, '') AS text_deduped
FROM toks t LEFT JOIN maskl m ON t.doc_id = m.doc_id
"""


def q_minhash_recall_documents(spark, sf_dir):
    """LSH quality telemetry: recall of MinHash verified pairs against
    the exact prefix-filter similarity join on the SAME corpus,
    shingle size, and threshold. One row (n_exact_pairs, n_found_pairs,
    recall) — fully oracle-checked because both sides are deterministic
    (seeded hash family), so an LSH quality regression (band/hash
    changes, signature bugs) flips the value hash."""
    docs = load_table(spark, "documents", sf_dir)
    mh = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    nj = NgramJaccardDeduplicator().setThreshold(0.7)
    exact = nj.duplicate_pairs(docs).select("id_keep", "id_dup")
    found = mh.duplicate_pairs(docs).select("id_keep", "id_dup")
    hit = exact.join(found, ["id_keep", "id_dup"], "left_semi")
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_pairs"))
    nf = hit.agg(F.count(F.lit(1)).cast("long").alias("n_found_pairs"))
    recall = (F.when(F.col("n_exact_pairs") == 0, F.lit(1.0))
              .otherwise(F.col("n_found_pairs") / F.col("n_exact_pairs")))
    return (ne.crossJoin(nf)
            .select("n_exact_pairs", "n_found_pairs",
                    _fq(recall, 3).alias("recall")))


def _oracle_minhash_recall() -> str:
    mh = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    nj = NgramJaccardDeduplicator().setThreshold(0.7)
    t = nj.getThreshold()
    # both ops share shingleSize=3 → the exact side reuses the minhash
    # CTE block's shingle table (mhsh)
    assert mh.getShingleSize() == nj.getShingleSize()
    return f"""
WITH {_minhash_dup_ctes(mh, "documents", "mh")},
mhv AS (SELECT id_l, id_r FROM mhpairs
        WHERE len(list_intersect(sh_l, sh_r))::DOUBLE /
              len(list_distinct(list_concat(sh_l, sh_r)))
              >= {mh.getThreshold()!r}),
exhs AS (SELECT doc_id, sh,
                list_sort(list_transform(sh, s -> {_H60.format(x='s')}))
                  AS hs
         FROM mhsh),
expre AS (SELECT doc_id, len(hs) AS sz,
                 unnest(list_slice(hs, 1,
                        floor({1.0 - t!r} * len(hs))::INT + 1)) AS kh
          FROM exhs),
excand AS (
  SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
  FROM expre l JOIN expre r
    ON l.kh = r.kh AND l.doc_id < r.doc_id
   AND l.sz >= {t!r} * r.sz AND r.sz >= {t!r} * l.sz),
expairs AS (
  SELECT c.id_l, c.id_r
  FROM excand c JOIN mhsh l ON l.doc_id = c.id_l
                JOIN mhsh r ON r.doc_id = c.id_r
  WHERE len(list_intersect(l.sh, r.sh))::DOUBLE /
        len(list_distinct(list_concat(l.sh, r.sh))) >= {t!r}),
agg AS (SELECT (SELECT count(*) FROM expairs) AS ne,
               (SELECT count(*) FROM expairs e
                JOIN mhv m ON e.id_l = m.id_l AND e.id_r = m.id_r) AS nf)
SELECT ne::BIGINT AS n_exact_pairs, nf::BIGINT AS n_found_pairs,
       floor((CASE WHEN ne = 0 THEN 1.0 ELSE nf::DOUBLE / ne END) * 1e3 + 0.5) / 1e3
         AS recall
FROM agg
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    op = EmbeddingCosineDeduplicator().setSeed(7).setThreshold(0.95)
    return op.transform(emb).select("vec_id")


def _oracle_embedding_dedup() -> str:
    op = EmbeddingCosineDeduplicator().setSeed(7).setThreshold(0.95)
    planes = op.hyperplanes(EMB_DIMS)
    n_bits = op.getOrDefault(op.nBits)
    e = "list_transform(embedding, v -> v::DOUBLE)"
    band_terms = []
    for b in range(op.getNBands()):
        bit_terms = []
        for i in range(n_bits):
            plane = planes[b * n_bits + i]
            dot = " + ".join(f"emb[{j + 1}] * ({plane[j]!r})"
                             for j in range(EMB_DIMS))
            bit_terms.append(
                f"(CASE WHEN ({dot}) >= 0 THEN {1 << i}::BIGINT ELSE 0 END)")
        band_terms.append(
            f"struct_pack(band := {b}, key := ({' + '.join(bit_terms)}))")
    dotlr = " + ".join(f"l.emb[{j + 1}] * r.emb[{j + 1}]"
                       for j in range(EMB_DIMS))
    return f"""
WITH base AS (
  SELECT vec_id, {e} AS emb FROM embeddings),
keyed AS (
  SELECT vec_id, emb,
         sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm,
         unnest([{', '.join(band_terms)}]) AS b
  FROM base),
pairs AS (
  SELECT DISTINCT l.vec_id AS id_l, r.vec_id AS id_r,
         ({dotlr}) / (l.nrm * r.nrm) AS cosine
  FROM keyed l JOIN keyed r ON l.b = r.b AND l.vec_id < r.vec_id),
dups AS (SELECT DISTINCT id_r FROM pairs WHERE cosine >= 0.95)
SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id_r FROM dups)
"""

# ---------------------------------------------------------------------------
# 17. ANN cosine top-k
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = CosineTopK().setK(5).topk(queries, emb)
    return out.select("query_id", "rank", "neighbor_id",
                      _fq("cosine").alias("cosine"))


ORACLE_ANN = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
  FROM embeddings),
nv AS (SELECT vec_id, emb,
              sqrt(list_aggregate(list_transform(emb, x -> x*x), 'sum'))
              AS nrm FROM base),
q AS (SELECT * FROM nv WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cosine
  FROM q JOIN nv c ON q.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, floor((cosine) * 1e{R} + 0.5) / 1e{R} AS cosine
FROM ranked WHERE rank <= 5
"""

ANN_MEAN_RECALL_FLOOR = 0.6   # measured ~0.78-0.80 at sf0.01/sf0.1
ANN_QUERY_RECALL_FLOOR = 0.0  # no query may miss ALL its true neighbors


def q_ann_ivf_topk(spark, sf_dir):
    """Recall-floor gate for the IVF scale path: emits ONLY violations
    against the exact brute-force baseline on the same query set, so the
    expected result is ZERO rows and the oracle is a WHERE-false shell —
    a recall regression flips the row count and fails the hash gate.

    Violations emitted: any query whose recall@5 is not above
    ``ANN_QUERY_RECALL_FLOOR`` (a complete miss), and a ``query_id=-1``
    sentinel carrying the corpus-wide mean when it drops below
    ``ANN_MEAN_RECALL_FLOOR``. The per-query floor is deliberately loose:
    the synthetic embeddings are ~uniform on the sphere, so per-query
    recall at nProbe/nList=8/16 is noisy (observed min 0.2 at sf0.1)
    while the mean is stable (~0.78-0.80); clustered real-world corpora
    concentrate neighbors far better at small probe fractions."""
    from flink_ml__spark.functions.similarity import IVFCosineTopK

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    ivf = (IVFCosineTopK().setK(5).setNList(16).setNProbe(8).setSeed(42)
           .topk(queries, emb).select("query_id", "neighbor_id"))
    exact = (CosineTopK().setK(5).topk(queries, emb)
             .select("query_id", "neighbor_id"))
    hits = (exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    n = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
    per_q = (n.join(hits, "query_id", "left")
             .select("query_id", F.col("n_exact").cast("long").alias("n_exact"),
                     n_hit.alias("n_hit"),
                     _fq(n_hit / F.col("n_exact"), 3)
                     .alias("recall_at_5")))
    q_viol = per_q.filter(
        F.col("recall_at_5") <= F.lit(ANN_QUERY_RECALL_FLOOR))
    mean_viol = (per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").alias("n_exact"),
        F.sum("n_hit").alias("n_hit"),
        _fq(F.avg("recall_at_5"), 3).alias("recall_at_5"))
        .filter(F.col("recall_at_5") < F.lit(ANN_MEAN_RECALL_FLOOR)))
    return q_viol.unionByName(mean_viol)


# expected-empty shell: schema mirrors the Spark violation frame
ORACLE_ANN_IVF = """
SELECT vec_id::BIGINT AS query_id, 0::BIGINT AS n_exact,
       0::BIGINT AS n_hit, 0.0::DOUBLE AS recall_at_5
FROM embeddings WHERE false
"""


# ---------------------------------------------------------------------------
# 18-21. text analysis
# ---------------------------------------------------------------------------

def _semdedup_frame(spark, sf_dir):
    """Embeddings plus planted semantic duplicates: every 20th vector
    re-enters scaled ×2 under ``vec_id + 100000`` — ×2 is a float32
    exponent bump, so the unit direction is BIT-identical (cosine
    exactly 1, same quantizer cell, exact centroid-similarity tie),
    different magnitude — the gate exercises real removals whatever
    the generated corpus looks like."""
    emb = load_table(spark, "embeddings", sf_dir)
    dups = (emb.filter(F.col("vec_id") % 20 == 0)
            .select((F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform("embedding",
                                lambda x: (x * F.lit(2.0)).cast("float"))
                    .alias("embedding"),
                    "label"))
    return emb.unionByName(dups)


def q_semdedup_embeddings(spark, sf_dir):
    """Planted-duplicate gate for SemDeDup (the free kept set depends
    on seeded cells, so it is pytest-only; this entry hash-checks what
    IS provable): every planted duplicate (``vec_id >= 100000``,
    bit-identical unit direction → cosine exactly 1 to its original,
    same quantizer cell, centroid-similarity tie broken toward the
    smaller id) must be REMOVED — a surviving plant is emitted as a
    violation; so is any kept id not present in the input, and a
    sentinel fires if the kept set contains duplicates. Complementary
    to ``semdedup_invariants_embeddings`` (removed-has-kept-witness +
    partition). Expected EMPTY; WHERE-false oracle."""
    from flink_ml__spark.functions.similarity import SemDeDup

    emb = _semdedup_frame(spark, sf_dir)
    op = SemDeDup().setNList(8).setSeed(42).setThreshold(0.95)
    kept = op.transform(emb).select("vec_id")
    surviving_plants = (kept.filter(F.col("vec_id") >= 100000)
                        .select("vec_id",
                                F.lit("planted_dup_kept")
                                .alias("violation")))
    junk = (kept.join(emb.select("vec_id"), "vec_id", "left_anti")
            .select("vec_id", F.lit("kept_id_not_in_input")
                    .alias("violation")))
    dup_rows = (kept.groupBy("vec_id")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .select("vec_id",
                        F.lit("kept_id_duplicated").alias("violation")))
    return surviving_plants.unionByName(junk).unionByName(dup_rows)


ORACLE_SEMDEDUP_PLANTS = """
SELECT vec_id::BIGINT AS vec_id, '' AS violation
FROM embeddings WHERE false
"""


def q_semdedup_invariants_embeddings(spark, sf_dir):
    """Hard gate for SemDeDup: every REMOVED vector must have a KEPT
    witness with cosine >= threshold (the within-cell guarantee implies
    the global one), and the kept/removed sets must partition the
    input (a sentinel row fires on count mismatch). Violations are
    recomputed through the pure-Catalyst cosine path, independent of
    the operator's numpy greedy. Expected EMPTY; WHERE-false oracle
    makes this a count/hash-checked row."""
    from flink_ml__spark.functions.similarity import SemDeDup

    tau = 0.95
    emb = _semdedup_frame(spark, sf_dir)
    op = SemDeDup().setNList(8).setSeed(42).setThreshold(tau)
    kept = op.transform(emb).select("vec_id")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(F.transform(arr, lambda x: x * x),
                             F.lit(0.0), lambda a, x: a + x))
    sides = emb.select("vec_id", arr.alias("__v"), nrm.alias("__n"))
    k = (sides.join(kept, "vec_id", "left_semi")
         .select(F.col("vec_id").alias("__kid"),
                 F.col("__v").alias("__kv"), F.col("__n").alias("__kn")))
    r = (sides.join(kept, "vec_id", "left_anti"))
    dot = F.aggregate(F.zip_with("__v", "__kv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("__n") * F.col("__kn"))
    no_witness = (r.crossJoin(F.broadcast(k))
                  .groupBy("vec_id")
                  .agg(F.max(cos).alias("max_cos_to_kept"))
                  .filter(F.col("max_cos_to_kept") < tau))
    n_total = emb.select(F.count(F.lit(1)).alias("__t"))
    n_parts = (kept.select(F.count(F.lit(1)).alias("__k"))
               .crossJoin(r.select(F.count(F.lit(1)).alias("__r"))))
    sentinel = (n_total.crossJoin(n_parts)
                .filter(F.col("__t") != F.col("__k") + F.col("__r"))
                .select(F.lit(-1).cast("long").alias("vec_id"),
                        F.lit(0.0).alias("max_cos_to_kept")))
    return no_witness.unionByName(sentinel)


ORACLE_SEMDEDUP_INVARIANTS = """
SELECT vec_id::BIGINT AS vec_id, 0.0::DOUBLE AS max_cos_to_kept
FROM embeddings WHERE false
"""


def q_embedding_contamination(spark, sf_dir):
    """Semantic decontamination: max cosine of every corpus embedding
    to the benchmark subset (vec_id % 100 == 7), flag at 0.4 — one
    map-only Arrow pass over the broadcast benchmark matrix."""
    from flink_ml__spark.functions.similarity import (
        EmbeddingContaminationChecker,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    bench = emb.filter(F.col("vec_id") % 100 == 7)
    corpus = emb.filter(F.col("vec_id") % 100 != 7)
    out = (EmbeddingContaminationChecker().setThreshold(0.4)
           .transform_against(corpus, bench))
    return out.select("vec_id",
                      _fq("max_benchmark_cosine")
                      .alias("max_benchmark_cosine"),
                      "is_contaminated")


ORACLE_EMB_CONTAMINATION = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e
  FROM embeddings),
nv AS (SELECT vec_id, e,
              sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum'))
              AS nrm FROM base),
b AS (SELECT * FROM nv WHERE vec_id % 100 = 7),
c AS (SELECT * FROM nv WHERE vec_id % 100 <> 7),
mx AS (SELECT c.vec_id,
              max(CASE WHEN c.nrm * b.nrm = 0 THEN 0
                       ELSE list_dot_product(c.e, b.e) / (c.nrm * b.nrm)
                  END) AS m
       FROM c, b GROUP BY c.vec_id)
SELECT vec_id, floor((m) * 1e{R} + 0.5) / 1e{R} AS max_benchmark_cosine,
       m >= 0.4 AS is_contaminated
FROM mx
"""


def q_quantize_embeddings(spark, sf_dir):
    """int8 scalar quantization of the embeddings table (per-vector
    max-abs scale, symmetric codes).

    The codes column is emitted as a comma-joined string (not
    ``array<int>``): the driver gate canonicalizes results with a
    pandas sort, and list-typed cells are unsortable/unhashable there.
    """
    from flink_ml__spark.functions.similarity import EmbeddingQuantizer

    emb = load_table(spark, "embeddings", sf_dir)
    out = EmbeddingQuantizer().transform(emb)
    return out.select(
        "vec_id",
        _fq("emb_scale").alias("emb_scale"),
        F.array_join(F.col("emb_q8").cast("array<string>"), ",")
        .alias("emb_q8"),
    )


ORACLE_QUANTIZE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
  FROM embeddings),
s AS (SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) AS sc
      FROM base),
q AS (SELECT vec_id, sc,
             CASE WHEN sc = 0 THEN list_transform(emb, x -> 0)
                  ELSE list_transform(emb, x -> round(x * 127.0 / sc)::INT)
             END AS codes
      FROM s)
SELECT vec_id, floor((sc) * 1e{R} + 0.5) / 1e{R} AS emb_scale,
       array_to_string(codes, ',') AS emb_q8
FROM q
"""


def q_lang_id_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return (LanguageIdentifier().transform(docs)
            .select("doc_id", "lang_pred"))


def _lang_pred_sql(src: str) -> str:
    """``SELECT doc_id, lang_pred FROM <derived>`` — parameterized over
    the source relation so composed pipelines can re-run language ID on
    intermediate result sets."""
    toks = f"list_distinct({_TOK_SQL})"
    scores = {
        lang: (f"len(list_intersect(toks, "
               f"[{', '.join(repr(w) for w in words)}]))")
        for lang, words in LANG_PROFILES.items()
    }
    best = f"greatest({', '.join(scores.values())})"
    langs = list(LANG_PROFILES)
    expr = "'und'"
    for lang in reversed(langs):
        expr = (f"CASE WHEN {scores[lang]} = best THEN '{lang}' "
                f"ELSE {expr} END")
    return f"""
SELECT doc_id, CASE WHEN best <= 0 THEN 'und' ELSE {expr} END AS lang_pred
FROM (SELECT doc_id, toks, {best} AS best
      FROM (SELECT doc_id, {toks} AS toks FROM {src}))
"""


def _oracle_lang_id() -> str:
    return _lang_pred_sql("documents")


def q_quality_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    out = QualityScorer().transform(docs)
    return out.select("doc_id", "n_tokens_q",
                      _fq("alpha_ratio").alias("alpha_ratio"),
                      _fq("quality_score").alias("quality_score"))


ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(text),
             '[^a-zA-Z0-9'']+'), x -> x <> '')) AS n_tokens_q,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS punct,
         len(list_intersect(
             list_distinct(list_filter(string_split_regex(lower(text),
                 '[^a-zA-Z0-9'']+'), x -> x <> '')),
             [{', '.join(repr(w) for w in LANG_PROFILES['en'])}])) AS stop
  FROM documents),
m AS (
  SELECT doc_id, n_tokens_q,
         alpha::DOUBLE / greatest(n_chars, 1) AS alpha_ratio,
         punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
         stop::DOUBLE / greatest(n_tokens_q, 1) AS stopword_ratio
  FROM t)
SELECT doc_id, n_tokens_q, floor((alpha_ratio) * 1e{R} + 0.5) / 1e{R} AS alpha_ratio,
       floor((least(n_tokens_q / 20.0, 1.0) * 0.3
           + alpha_ratio * 0.4
           + least(stopword_ratio * 5.0, 1.0) * 0.2
           + (1 - least(punct_ratio * 10.0, 1.0)) * 0.1) * 1e{R} + 0.5) / 1e{R}
         AS quality_score
FROM m
"""


def q_quality_filter_documents(spark, sf_dir):
    from flink_ml__spark.functions.text import QualityFilter

    docs = load_table(spark, "documents", sf_dir)
    out = QualityFilter().setMinScore(0.5).transform(docs)
    return out.select("doc_id",
                      _fq("quality_score").alias("quality_score"))


ORACLE_QUALITY_FILTER = f"""
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(text),
             '[^a-zA-Z0-9'']+'), x -> x <> '')) AS n_tokens_q,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS punct,
         len(list_intersect(
             list_distinct(list_filter(string_split_regex(lower(text),
                 '[^a-zA-Z0-9'']+'), x -> x <> '')),
             [{', '.join(repr(w) for w in LANG_PROFILES['en'])}])) AS stop
  FROM documents),
m AS (
  SELECT doc_id, n_tokens_q,
         alpha::DOUBLE / greatest(n_chars, 1) AS alpha_ratio,
         punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
         stop::DOUBLE / greatest(n_tokens_q, 1) AS stopword_ratio
  FROM t),
s AS (
  SELECT doc_id,
         least(n_tokens_q / 20.0, 1.0) * 0.3
           + alpha_ratio * 0.4
           + least(stopword_ratio * 5.0, 1.0) * 0.2
           + (1 - least(punct_ratio * 10.0, 1.0)) * 0.1 AS score
  FROM m)
SELECT doc_id, floor((score) * 1e{R} + 0.5) / 1e{R} AS quality_score
FROM s WHERE score >= 0.5
"""


def q_gopher_quality_documents(spark, sf_dir):
    """Gopher rule filter at the paper's thresholds (minStopHits
    relaxed to 1 — the synthetic vocabulary carries few English stop
    words, and 1 keeps both verdicts populated)."""
    from flink_ml__spark.functions.text import GopherQualityFilter

    docs = load_table(spark, "documents", sf_dir)
    out = GopherQualityFilter().setMinStopHits(1).transform(docs)
    return out.select(
        "doc_id", "gopher_n_words",
        _fq("gopher_mean_word_len").alias("gopher_mean_word_len"),
        _fq("gopher_symbol_ratio").alias("gopher_symbol_ratio"),
        _fq("gopher_alpha_word_frac").alias("gopher_alpha_word_frac"),
        "gopher_stop_hits", "gopher_pass")


def _oracle_gopher() -> str:
    from flink_ml__spark.functions.text import GopherQualityFilter

    op = GopherQualityFilter().setMinStopHits(1)
    stops = ", ".join(f"'{w}'" for w in op.getOrDefault(op.stopWords))
    return f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
w AS (SELECT doc_id, t,
             list_filter(string_split_regex(t, '\\s+'), x -> x <> '')
               AS words
      FROM base),
m AS (SELECT doc_id,
             len(words) AS n,
             greatest(len(words), 1) AS n1,
             length(regexp_replace(t, '\\s', '', 'g'))::DOUBLE AS nwc,
             len(regexp_extract_all(t, '#|\\.\\.\\.|…'))::DOUBLE AS sym,
             len(list_filter(words,
                             x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
               AS alpha,
             len(list_intersect(
                 list_distinct(list_transform(words, x -> lower(x))),
                 [{stops}])) AS stop_hits
      FROM w)
SELECT doc_id,
       n::BIGINT AS gopher_n_words,
       floor((nwc / n1) * 1e{R} + 0.5) / 1e{R} AS gopher_mean_word_len,
       floor((sym / n1) * 1e{R} + 0.5) / 1e{R} AS gopher_symbol_ratio,
       floor((alpha / n1) * 1e{R} + 0.5) / 1e{R} AS gopher_alpha_word_frac,
       stop_hits::INT AS gopher_stop_hits,
       (n >= {op.getOrDefault(op.minWords)}
        AND n <= {op.getOrDefault(op.maxWords)}
        AND nwc / n1 >= {op.getOrDefault(op.minMeanWordLen)!r}
        AND nwc / n1 <= {op.getOrDefault(op.maxMeanWordLen)!r}
        AND sym / n1 <= {op.getOrDefault(op.maxSymbolRatio)!r}
        AND alpha / n1 >= {op.getOrDefault(op.minAlphaWordFrac)!r}
        AND stop_hits >= 1) AS gopher_pass
FROM m
"""


def q_token_count_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return (TokenCounter().transform(docs)
            .select("doc_id", "n_tokens", "n_tokens_bpe"))


ORACLE_TOKEN_COUNT = """
SELECT doc_id,
       coalesce(len(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')), 0) AS n_tokens,
       coalesce(len(regexp_extract_all(
           text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')), 0) AS n_tokens_bpe
FROM documents
"""


def q_asof_join_events(spark, sf_dir):
    """Backward as-of join: odd event_ids look up the latest even-id
    event's value at-or-before their time per user — DuckDB replays it
    with its native ASOF LEFT JOIN."""
    from flink_ml__spark.functions.joins import AsOfJoiner

    ev = load_table(spark, "events", sf_dir)
    left = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts")
    right = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", "value")
    out = AsOfJoiner().join(left, right, ["value"])
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros("asof_ts").alias("asof_us"),
        _fq("value").alias("asof_value"))


ORACLE_ASOF_JOIN = f"""
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
           WHERE event_id % 2 = 1),
r AS (SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE event_id % 2 = 0)
SELECT l.event_id, l.user_id, l.t AS t_us, r.t AS asof_us,
       floor((r.value) * 1e{R} + 0.5) / 1e{R} AS asof_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.t
"""


def q_asof_forward_events(spark, sf_dir):
    """Forward as-of join (earliest even-id event at-or-after each odd
    event per user) — DuckDB replays it with a native ASOF LEFT JOIN
    on the reversed inequality."""
    from flink_ml__spark.functions.joins import AsOfJoiner

    ev = load_table(spark, "events", sf_dir)
    left = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts")
    right = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", "value")
    out = AsOfJoiner().setDirection("forward").join(left, right, ["value"])
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros("asof_ts").alias("asof_us"),
        _fq("value").alias("asof_value"))


ORACLE_ASOF_FORWARD = f"""
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
           WHERE event_id % 2 = 1),
r AS (SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE event_id % 2 = 0)
SELECT l.event_id, l.user_id, l.t AS t_us, r.t AS asof_us,
       floor((r.value) * 1e{R} + 0.5) / 1e{R} AS asof_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t <= r.t
"""


def q_asof_nearest_events(spark, sf_dir):
    """Nearest as-of join (closer of the backward/forward matches,
    ties backward) — the oracle composes DuckDB's two native ASOF
    directions with a CASE arbiter."""
    from flink_ml__spark.functions.joins import AsOfJoiner

    ev = load_table(spark, "events", sf_dir)
    left = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts")
    right = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", "value")
    out = AsOfJoiner().setDirection("nearest").join(left, right, ["value"])
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.unix_micros("asof_ts").alias("asof_us"),
        _fq("value").alias("asof_value"))


ORACLE_ASOF_NEAREST = f"""
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
           WHERE event_id % 2 = 1),
r AS (SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE event_id % 2 = 0),
b AS (SELECT l.event_id, l.user_id, l.t, r.t AS bt, r.value AS bv
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.t),
f AS (SELECT l.event_id, r.t AS ft, r.value AS fv
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t <= r.t)
SELECT b.event_id, b.user_id, b.t AS t_us,
       CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
            WHEN (ft - t) < (t - bt) THEN ft ELSE bt END AS asof_us,
       floor((CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv
                  WHEN (ft - t) < (t - bt) THEN fv ELSE bv END) * 1e{R} + 0.5) / 1e{R} AS asof_value
FROM b JOIN f USING (event_id)
"""


def q_sessionize_events(spark, sf_dir):
    """30-minute-gap sessionization of the event stream per user —
    native session_window aggregation; times emitted as epoch micros
    so both engines compare exact integers."""
    from flink_ml__spark.functions.sessions import Sessionizer

    ev = load_table(spark, "events", sf_dir)
    out = Sessionizer().setGap("30 minutes").transform(ev)
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_last").alias("last_us"),
        "n_events",
        _fq("sum_value").alias("sum_value"))


# the analytic lag/cumsum formulation — the classic sessionization SQL
ORACLE_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, value FROM events),
g AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL
                      OR t - lag(t) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id, min(t) AS start_us, max(t) AS last_us,
       count(*) AS n_events, floor((sum(value)) * 1e{R} + 0.5) / 1e{R} AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_range_join_events(spark, sf_dir):
    """Bucketed point-in-interval join: every event joined to every
    2-hour window opened by an event_id%7==0 event of the same user
    that contains it — DuckDB replays it as a plain range join (its
    IEJoin handles the non-equi predicate natively; Spark needs the
    bin rewrite to avoid a nested-loop plan)."""
    from flink_ml__spark.functions.joins import RangeJoiner

    ev = load_table(spark, "events", sf_dir)
    points = ev.select("event_id", "user_id", "ts")
    ivs = (ev.filter(F.col("event_id") % 7 == 0)
           .select("user_id", F.col("event_id").alias("iv_id"),
                   F.col("ts").alias("range_start"),
                   (F.col("ts") + F.expr("INTERVAL 2 HOURS"))
                   .alias("range_end"), F.col("value").alias("iv_value")))
    out = RangeJoiner().setBucketWidthSec(3600.0).join(
        points, ivs, ["iv_id", "iv_value"])
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us"),
        "iv_id", _fq("iv_value").alias("iv_value"))


ORACLE_RANGE_JOIN = f"""
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events),
i AS (SELECT user_id, event_id AS iv_id, epoch_us(ts) AS s,
             epoch_us(ts + INTERVAL 2 HOUR) AS e, value
      FROM events WHERE event_id % 7 = 0)
SELECT p.event_id, p.user_id, p.t AS t_us, i.iv_id,
       floor((i.value) * 1e{R} + 0.5) / 1e{R} AS iv_value
FROM p JOIN i ON p.user_id = i.user_id AND p.t BETWEEN i.s AND i.e
"""


def q_rollup_gapfill_events(spark, sf_dir):
    """Hypertable-style rollup: 6-hour per-user buckets of the event
    stream, densified over each user's span with last-observation-
    carried-forward means — DuckDB replays the whole pipeline with
    generate_series + IGNORE NULLS window."""
    from flink_ml__spark.functions.timeseries import TimeBucketRollup

    ev = load_table(spark, "events", sf_dir)
    out = (TimeBucketRollup().setBucketWidthSec(6 * 3600.0)
           .setFill("locf").transform(ev))
    return out.select(
        "user_id", F.unix_micros("bucket_start").alias("bucket_us"),
        "n_events", _fq("sum_value").alias("sum_value"),
        _fq("avg_value").alias("avg_value"))


_BW_US = 6 * 3600 * 1_000_000
ORACLE_ROLLUP_GAPFILL = f"""
WITH a AS (
  SELECT user_id, (epoch_us(ts) // {_BW_US})::BIGINT AS bk,
         count(*) AS n_events, sum(value) AS sum_value,
         avg(value) AS avg_value
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
span AS (SELECT user_id, min(bk) AS b0, max(bk) AS b1 FROM a GROUP BY 1),
dense AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bk
          FROM span),
j AS (SELECT d.user_id, d.bk, coalesce(a.n_events, 0) AS n_events,
             a.sum_value, a.avg_value
      FROM dense d LEFT JOIN a ON d.user_id = a.user_id AND d.bk = a.bk)
SELECT user_id, bk * {_BW_US} AS bucket_us, n_events,
       floor((sum_value) * 1e{R} + 0.5) / 1e{R} AS sum_value,
       floor((coalesce(avg_value, last_value(avg_value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY bk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) * 1e{R} + 0.5) / 1e{R} AS avg_value
FROM j
"""


def q_anomaly_events(spark, sf_dir):
    """Rolling z-score anomaly flags over the 6-hour per-user rollup
    (trailing 8-bucket baseline, current row excluded, min 4 priors)
    — pure window math, replayed verbatim in SQL."""
    from flink_ml__spark.functions.timeseries import (
        RollingAnomalyDetector,
        TimeBucketRollup,
    )

    ev = load_table(spark, "events", sf_dir)
    roll = (TimeBucketRollup().setBucketWidthSec(6 * 3600.0)
            .setFill("null").transform(ev))
    out = (RollingAnomalyDetector().setWindow(8).setMinPeriods(4)
           .setThreshold(2.0).transform(roll))
    return out.select(
        "user_id", F.unix_micros("bucket_start").alias("bucket_us"),
        _fq("avg_value").alias("avg_value"),
        _fq("zscore").alias("zscore"), "is_anomaly")


ORACLE_ANOMALY = f"""
WITH a AS (
  SELECT user_id, (epoch_us(ts) // {_BW_US})::BIGINT AS bk,
         avg(value) AS avg_value
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
span AS (SELECT user_id, min(bk) AS b0, max(bk) AS b1 FROM a GROUP BY 1),
dense AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bk
          FROM span),
j AS (SELECT d.user_id, d.bk, a.avg_value
      FROM dense d LEFT JOIN a ON d.user_id = a.user_id AND d.bk = a.bk),
z AS (SELECT user_id, bk, avg_value,
        CASE WHEN count(avg_value) OVER w >= 4
             THEN avg(avg_value) OVER w END AS m,
        CASE WHEN count(avg_value) OVER w >= 4
             THEN stddev_samp(avg_value) OVER w END AS s
      FROM j WINDOW w AS (PARTITION BY user_id ORDER BY bk
                          ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
SELECT user_id, bk * {_BW_US} AS bucket_us,
       floor((avg_value) * 1e{R} + 0.5) / 1e{R} AS avg_value,
       floor((CASE WHEN s > 0 THEN (avg_value - m) / s END) * 1e{R} + 0.5) / 1e{R} AS zscore,
       coalesce(abs(CASE WHEN s > 0 THEN (avg_value - m) / s END) >= 2.0,
                false) AS is_anomaly
FROM z
"""


def q_zorder_key_events(spark, sf_dir):
    """Morton z-order key over (user_id, value) at 8 bits/column —
    the clustering key `write_zorder_parquet` lays files out by; the
    oracle replays the quantization and the bit interleave
    arithmetic (identical min/max aggregates → identical scale
    doubles → identical cells)."""
    from flink_ml__spark.sources.registry import zorder_key

    ev = load_table(spark, "events", sf_dir)
    key, _ = zorder_key(ev, ["user_id", "value"], bits=8)
    return ev.select("event_id", key.alias("zkey"))


def _oracle_zorder(bits: int = 8) -> str:
    n = 1 << bits
    terms = []
    for ci, q in enumerate(["q0", "q1"]):
        for b in range(bits):
            terms.append(f"(({q} >> {b}) & 1) * {1 << (b * 2 + ci)}")
    return f"""
WITH s AS (SELECT min(user_id::DOUBLE) AS mn0, max(user_id::DOUBLE) AS mx0,
                  min(value) AS mn1, max(value) AS mx1 FROM events),
q AS (SELECT event_id,
        coalesce(least(greatest(floor((user_id::DOUBLE - mn0)
            * ({n} / (mx0 - mn0)))::BIGINT, 0), {n - 1}), 0) AS q0,
        coalesce(least(greatest(floor((value - mn1)
            * ({n} / (mx1 - mn1)))::BIGINT, 0), {n - 1}), 0) AS q1
      FROM events CROSS JOIN s)
SELECT event_id, ({' + '.join(terms)})::BIGINT AS zkey FROM q
"""


def q_scd2_events(spark, sf_dir):
    """Type-2 SCD history of each user's event_type "state" with
    change compression — lag/lead window SQL replays it exactly."""
    from flink_ml__spark.functions.timeseries import SCD2Builder

    ev = load_table(spark, "events", sf_dir)
    out = SCD2Builder().setAttrCols("event_type").transform(ev)
    return out.select(
        "user_id", "event_type",
        F.unix_micros("valid_from").alias("from_us"),
        F.unix_micros("valid_to").alias("to_us"), "is_current")


ORACLE_SCD2 = """
WITH src AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
             WHERE user_id IS NOT NULL AND ts IS NOT NULL),
m AS (SELECT *, lag(event_type) OVER w AS prev, lag(t) OVER w AS pt
      FROM src WINDOW w AS (PARTITION BY user_id
                            ORDER BY t, event_type)),
v AS (SELECT user_id, t, event_type FROM m
      WHERE pt IS NULL OR event_type IS DISTINCT FROM prev),
o AS (SELECT user_id, event_type, t AS from_us,
             lead(t) OVER (PARTITION BY user_id
                           ORDER BY t, event_type) AS to_us
      FROM v)
SELECT user_id, event_type, from_us, to_us, to_us IS NULL AS is_current
FROM o
"""


def q_trending_events(spark, sf_dir):
    """Per-day top-3 event types by count (windowed leaderboard) —
    the keyed top-k compiles to WindowGroupLimit; DuckDB replays it
    with a plain row_number window."""
    from flink_ml__spark.functions.timeseries import TrendingItems

    ev = load_table(spark, "events", sf_dir)
    out = (TrendingItems().setItemCol("event_type")
           .setBucketWidthSec(86400.0).setTopK(3).transform(ev))
    return out.select(F.unix_micros("bucket_start").alias("bucket_us"),
                      "event_type", "n", "rank")


_DAY_US = 86400 * 1_000_000
ORACLE_TRENDING = f"""
WITH c AS (
  SELECT (epoch_us(ts) // {_DAY_US})::BIGINT AS bk, event_type,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (
        PARTITION BY bk ORDER BY n DESC, event_type ASC) AS "rank"
      FROM c)
SELECT bk * {_DAY_US} AS bucket_us, event_type, n, "rank"
FROM r WHERE "rank" <= 3
"""


def q_cohort_retention_events(spark, sf_dir):
    """Weekly cohort retention matrix over the event stream — three
    bounded aggregations, no window functions; DuckDB replays the
    same relational pipeline."""
    from flink_ml__spark.functions.timeseries import CohortRetention

    ev = load_table(spark, "events", sf_dir)
    out = (CohortRetention().setBucketWidthSec(7 * 86400.0)
           .transform(ev))
    return out.select(F.unix_micros("cohort_start").alias("cohort_us"),
                      "age", "n_active", "cohort_size",
                      _fq("retention").alias("retention"))


_WEEK_US = 7 * 86400 * 1_000_000
ORACLE_COHORT_RETENTION = f"""
WITH a AS (SELECT DISTINCT user_id,
                  (epoch_us(ts) // {_WEEK_US})::BIGINT AS bk
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
c AS (SELECT user_id, min(bk) AS cohort FROM a GROUP BY 1),
s AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY 1),
cells AS (SELECT c.cohort, a.bk - c.cohort AS age,
                 count(*) AS n_active
          FROM a JOIN c USING (user_id) GROUP BY 1, 2)
SELECT cohort * {_WEEK_US} AS cohort_us, age, n_active, cohort_size,
       floor((n_active::DOUBLE / cohort_size) * 1e{R} + 0.5) / 1e{R} AS retention
FROM cells JOIN s USING (cohort)
"""


def q_pagerank_events(spark, sf_dir):
    """5-iteration damped PageRank over the interaction graph
    (user_id → event_id%150 edges; parallel edges weight) — the fixed
    iteration count makes the iterative algorithm deterministic, so
    the oracle replays every iteration as a chained CTE. Literals are
    emitted with full repr so both engines damp with the SAME
    doubles."""
    from flink_ml__spark.functions.graph import PageRank

    ev = load_table(spark, "events", sf_dir)
    edges = ev.select(F.col("user_id").alias("src"),
                      (F.col("event_id") % 150).alias("dst"))
    out = PageRank().setMaxIter(5).transform(edges)
    return out.select("node", _fq("rank").alias("rank"))


def _oracle_pagerank(iters: int = 5, d: float = 0.85) -> str:
    dd, omd = repr(d), repr(1.0 - d)
    ctes = [f"""e AS (SELECT user_id AS src, event_id % 150 AS dst
     FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
ew AS (SELECT src, dst, count(*)::DOUBLE AS w FROM e GROUP BY 1, 2),
tr AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
       FROM ew),
nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(f"""dg{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {p}
        WHERE node NOT IN (SELECT src FROM ew)),
c{i} AS (SELECT tr.dst AS node, sum(tr.p * {p}.rank) AS c
        FROM tr JOIN {p} ON tr.src = {p}.node GROUP BY 1),
r{i} AS (SELECT nodes.node,
        {omd} / nn.n + {dd} * (coalesce(c{i}.c, 0.0) + dg{i}.dm / nn.n)
        AS rank
        FROM nodes CROSS JOIN nn CROSS JOIN dg{i}
        LEFT JOIN c{i} ON nodes.node = c{i}.node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, floor((rank) * 1e{R} + 0.5) / 1e{R} AS rank FROM r{iters}")


def q_funnel_events(spark, sf_dir):
    """Ordered view→click→purchase funnel per user (earliest-
    completion binding, strictly-after semantics) — DuckDB replays the
    same chained min-after-previous-step aggregations."""
    from flink_ml__spark.functions.timeseries import FunnelAnalyzer

    ev = load_table(spark, "events", sf_dir)
    out = (FunnelAnalyzer().setSteps("view", "click", "purchase")
           .transform(ev))
    return out.select(
        "user_id", F.unix_micros("t_step1").alias("t1_us"),
        F.unix_micros("t_step2").alias("t2_us"),
        F.unix_micros("t_step3").alias("t3_us"), "n_steps")


ORACLE_FUNNEL = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
s1 AS (SELECT user_id, min(t) AS t1 FROM e
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND t > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND t > s2.t2 GROUP BY 1)
SELECT s1.user_id, s1.t1 AS t1_us, s2.t2 AS t2_us, s3.t3 AS t3_us,
       (1 + (s2.t2 IS NOT NULL)::INT + (s3.t3 IS NOT NULL)::INT)::INT
       AS n_steps
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_bm25_documents(spark, sf_dir):
    """BM25 top-10 retrieval: every doc_id%29==0 document's first 6
    tokens become a query against the whole corpus — exact relational
    BM25 (postings + broadcast probe + keyed top-k), replayed term by
    term in SQL."""
    from flink_ml__spark.functions.retrieval import BM25Retriever
    from flink_ml__spark.functions.text import TOKEN_SPLIT

    docs = load_table(spark, "documents", sf_dir)
    toks = F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))),
                            TOKEN_SPLIT), lambda t: t != "")
    queries = (docs.filter(F.col("doc_id") % 29 == 0)
               .select(F.col("doc_id").alias("query_id"),
                       F.array_join(F.slice(toks, 1, 6), " ")
                       .alias("query_text")))
    out = BM25Retriever().setTopK(10).retrieve(docs, queries)
    return out.select("query_id", "doc_id",
                      _fq("score").alias("score"), "rank")


ORACLE_BM25 = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
       GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
             (SELECT sum(tf) FROM tf)::DOUBLE
             / (SELECT count(*) FROM documents) AS avgdl),
q AS (SELECT doc_id AS query_id,
             unnest(list_distinct(toks[1:6])) AS term
      FROM toks WHERE doc_id % 29 = 0),
m AS (SELECT q.query_id, tf.doc_id,
             ln(1 + (c.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl)) AS s
      FROM q JOIN tf USING (term) JOIN dfq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN c),
sc AS (SELECT query_id, doc_id, sum(s) AS score FROM m GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY floor(score * 1e9 + 0.5)::BIGINT DESC, doc_id ASC) AS "rank"
      FROM sc)
SELECT query_id, doc_id, floor((score) * 1e{R} + 0.5) / 1e{R} AS score, "rank"
FROM r WHERE "rank" <= 10
"""


def q_bigram_lm_documents(spark, sf_dir):
    """Interpolated bigram-LM fluency scores, fit and applied on the
    same corpus — the oracle replays the deterministic vocab/bigram
    cuts and the per-position interpolation in SQL. λ literals are
    emitted with full repr so both engines interpolate with the SAME
    doubles."""
    from flink_ml__spark.functions.curation import BigramLM

    docs = load_table(spark, "documents", sf_dir)
    model = (BigramLM().setMaxVocab(4096).setMaxBigrams(8192)
             .setInterpWeight(0.7).fit(docs))
    out = model.transform(docs)
    return out.select("doc_id",
                      _fq("mean_logprob").alias("mean_logprob"),
                      _fq("bigram_frac").alias("bigram_frac"))


_BLM_LAM, _BLM_1MLAM = repr(0.7), repr(1.0 - 0.7)
ORACLE_BIGRAM_LM = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
ex AS (SELECT unnest(toks) AS token FROM toks),
tot AS (SELECT count(*)::DOUBLE AS total FROM ex),
uni AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1
        ORDER BY cnt DESC, token ASC LIMIT 4096),
bex AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
big AS (SELECT w1, w2, count(*) AS cnt FROM bex GROUP BY 1, 2
        ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 8192),
pos AS (SELECT doc_id, toks[i] AS w,
               CASE WHEN i > 1 THEN toks[i-1] END AS prev, i
        FROM toks, unnest(generate_series(1, len(toks))) AS u(i)),
sc AS (SELECT p.doc_id,
         CASE WHEN p.i = 1
              THEN ln(coalesce(u2.cnt, 1)::DOUBLE / tot.total)
              ELSE ln({_BLM_LAM} * (CASE WHEN b.cnt IS NOT NULL
                                              AND u1.cnt IS NOT NULL
                                         THEN b.cnt::DOUBLE / u1.cnt
                                         ELSE 0.0 END)
                      + {_BLM_1MLAM}
                        * coalesce(u2.cnt, 1)::DOUBLE / tot.total)
         END AS lp,
         CASE WHEN p.i > 1 THEN (b.cnt IS NOT NULL)::INT END AS hit
       FROM pos p
       LEFT JOIN uni u2 ON p.w = u2.token
       LEFT JOIN uni u1 ON p.prev = u1.token
       LEFT JOIN big b ON p.prev = b.w1 AND p.w = b.w2
       CROSS JOIN tot),
agg AS (SELECT doc_id, avg(lp) AS mlp, avg(hit) AS bf
        FROM sc GROUP BY 1)
SELECT d.doc_id, floor((agg.mlp) * 1e{R} + 0.5) / 1e{R} AS mean_logprob,
       floor((agg.bf) * 1e{R} + 0.5) / 1e{R} AS bigram_frac
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def q_weighted_sample_documents(spark, sf_dir):
    """Top-100 Efraimidis-Spirakis weighted draw by n_chars — the
    salted hash, the exponential key and the rounded-key cut all
    replay in SQL."""
    from flink_ml__spark.functions.curation import WeightedSampler

    docs = load_table(spark, "documents", sf_dir)
    out = (WeightedSampler().setWeightCol("n_chars").setN(100)
           .transform(docs))
    return out.select("doc_id", "n_chars",
                      _fq("sample_key").alias("sample_key"))


ORACLE_WEIGHTED_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, n_chars,
         ('0x' || substring(md5('wsample:' || doc_id), 1, 15))::BIGINT
         AS h
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
k AS (SELECT doc_id, n_chars,
             ln((h + 1) / 1152921504606846976.0) / n_chars AS key
      FROM t),
r AS (SELECT *, row_number() OVER (
        ORDER BY floor(greatest(key, -9e6) * 1e12 + 0.5)::BIGINT DESC,
                 doc_id ASC) AS rn FROM k)
SELECT doc_id, n_chars, floor((key) * 1e{R} + 0.5) / 1e{R} AS sample_key
FROM r WHERE rn <= 100
"""


def q_winsorize_orders(spark, sf_dir):
    """Percentile winsorization of order totals at [p5, p95] — exact
    interpolated percentiles, so DuckDB's quantile_cont replays the
    fit and the clip verbatim."""
    from flink_ml__spark.functions.feature_gen import Winsorizer

    orders = load_table(spark, "orders", sf_dir)
    model = Winsorizer().setInputCol("o_totalprice").fit(orders)
    return (model.transform(orders)
            .select("o_orderkey",
                    _fq("winsorized").alias("winsorized")))


ORACLE_WINSORIZE = f"""
WITH b AS (SELECT quantile_cont(o_totalprice, 0.05) AS lo,
                  quantile_cont(o_totalprice, 0.95) AS hi FROM orders)
SELECT o_orderkey,
       floor((least(greatest(o_totalprice, b.lo), b.hi)) * 1e{R} + 0.5) / 1e{R}
       AS winsorized
FROM orders CROSS JOIN b
"""


def q_heavy_hitters_documents(spark, sf_dir):
    """Misra–Gries heavy hitters over the corpus token stream at 0.3%
    share — the sketch bounds the candidate set but the OUTPUT is
    exact, so the exhaustive SQL count is a hard oracle (a dropped
    true heavy hitter flips rows AND hash)."""
    from flink_ml__spark.functions.sketches import HeavyHitters

    docs = load_table(spark, "documents", sf_dir)
    out = (HeavyHitters().setMinShare(0.003).setNumCounters(512)
           .transform(docs))
    return out.select("item", "count", _fq("share").alias("share"))


ORACLE_HEAVY_HITTERS = f"""
WITH ex AS (SELECT unnest({_TOK_SQL}) AS item FROM documents),
n AS (SELECT count(*) AS n FROM ex),
c AS (SELECT item, count(*) AS cnt FROM ex GROUP BY 1)
SELECT item, cnt AS count, floor((cnt::DOUBLE / n.n) * 1e{R} + 0.5) / 1e{R} AS share
FROM c CROSS JOIN n WHERE cnt >= 0.003 * n.n
"""


def q_cardinality_events(spark, sf_dir):
    """DistinctCounter exact mode: distinct users per event type — the
    grouped-cardinality primitive, verified against SQL
    count(DISTINCT)."""
    from flink_ml__spark.functions.sketches import DistinctCounter

    ev = load_table(spark, "events", sf_dir)
    return (DistinctCounter().setKeyCol("user_id")
            .setGroupCols("event_type").transform(ev))


ORACLE_CARDINALITY = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type
"""


def q_cardinality_invariants_events(spark, sf_dir):
    """Violations-only gate for the HLL++ approx path: per event type,
    |approx − exact| / exact must stay within 5× the configured rsd
    (0.05) — a generous band for the worst group, tight enough that a
    broken sketch path (wrong rsd plumbing, wrong column) flips the
    hash. Expected EMPTY."""
    from flink_ml__spark.functions.sketches import DistinctCounter

    ev = load_table(spark, "events", sf_dir)
    rep = (DistinctCounter().setKeyCol("user_id")
           .setGroupCols("event_type").setRelativeSD(0.05)
           .error_report(ev))
    return (rep.filter(F.col("rel_err") > 0.25)
            .select("event_type", _fq("rel_err").alias("rel_err")))


ORACLE_CARDINALITY_INVARIANTS = """
SELECT event_type, 0.0::DOUBLE AS rel_err FROM events WHERE false
"""


def q_skew_profile_events(spark, sf_dir):
    """SkewProfiler gate: the heaviest (event_type, user_id) shuffle
    keys with their share of the event stream — the histogram the
    broadcast/salt/AQE decision reads."""
    from flink_ml__spark.functions.sketches import SkewProfiler

    ev = load_table(spark, "events", sf_dir)
    out = (SkewProfiler().setKeyCols("event_type", "user_id").setTopN(20)
           .transform(ev))
    return out.select("event_type", "user_id", "cnt",
                      _fq("share").alias("share"))


ORACLE_SKEW_PROFILE = f"""
WITH c AS (SELECT event_type, user_id, count(*) AS cnt
           FROM events GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM events)
SELECT event_type, user_id, cnt, floor((cnt::DOUBLE / n.n) * 1e{R} + 0.5) / 1e{R} AS share
FROM c CROSS JOIN n
ORDER BY cnt DESC, event_type ASC, user_id ASC
LIMIT 20
"""


def q_skew_summary_events(spark, sf_dir):
    """SkewProfiler summary gate: one-row key-histogram statistics
    (skew_factor = hottest key count / average key count)."""
    from flink_ml__spark.functions.sketches import SkewProfiler

    ev = load_table(spark, "events", sf_dir)
    out = SkewProfiler().setKeyCols("event_type").summary(ev)
    return out.select("n_rows", "n_keys", "max_cnt",
                      _fq("avg_cnt").alias("avg_cnt"),
                      _fq("max_share").alias("max_share"),
                      _fq("skew_factor").alias("skew_factor"))


ORACLE_SKEW_SUMMARY = f"""
WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
SELECT sum(cnt)::BIGINT AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt,
       floor((avg(cnt)) * 1e{R} + 0.5) / 1e{R} AS avg_cnt,
       floor((max(cnt)::DOUBLE / sum(cnt)) * 1e{R} + 0.5) / 1e{R} AS max_share,
       floor((max(cnt)::DOUBLE / avg(cnt)) * 1e{R} + 0.5) / 1e{R} AS skew_factor
FROM c
"""


def q_json_props_events(spark, sf_dir):
    """JsonColumnParser gate: schema-declared from_json over the events
    props column (one codegen projection, no per-field re-parse), then
    a typed rollup of the extracted field — the semi-structured column
    path."""
    from flink_ml__spark.functions.feature_gen import JsonColumnParser

    ev = load_table(spark, "events", sf_dir)
    parsed = (JsonColumnParser().setInputCol("props").setSchema("k INT")
              .transform(ev))
    return (parsed.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 _fq(F.avg("k")).alias("avg_k")))


ORACLE_JSON_PROPS = f"""
SELECT event_type, count(*) AS n,
       sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
       floor((avg(json_extract(props, '$.k')::INT)) * 1e{R} + 0.5) / 1e{R} AS avg_k
FROM events GROUP BY event_type
"""


def q_json_schema_events(spark, sf_dir):
    """JsonSchemaProfiler gate: infer the key/type profile of a
    synthesized semi-structured column (conditional keys, mixed value
    classes, malformed docs, NULLs) built identically in both engines
    from integer/string event fields."""
    from flink_ml__spark.functions.linkage import JsonSchemaProfiler

    ev = load_table(spark, "events", sf_dir)
    k = F.col("event_id")
    built = F.concat(
        F.lit('{"id": '), k.cast("string"),
        F.lit(', "type": "'), F.col("event_type"), F.lit('"'),
        F.when(k % 3 == 0,
               F.concat(F.lit(', "uid": '),
                        F.col("user_id").cast("string")))
         .otherwise(F.lit("")),
        F.when(k % 5 == 0, F.lit(', "flags": [1, 2]'))
         .otherwise(F.lit("")),
        F.when(k % 7 == 0, F.lit(', "extra": null'))
         .otherwise(F.lit("")),
        F.when(k % 11 == 0, F.lit(', "meta": {"a": true}'))
         .otherwise(F.lit("")),
        F.lit("}"))
    j = (F.when(k % 13 == 0, F.lit('{"broken": '))
          .when(k % 17 == 0, F.lit(None).cast("string"))
          .otherwise(built))
    prof = (JsonSchemaProfiler().setInputCol("j")
            .transform(ev.select(j.alias("j"))))
    return prof.select(
        "key", "n_present",
        _fq("frac_present").alias("frac_present"),
        "n_string", "n_number", "n_boolean", "n_null",
        "n_object", "n_array", "dominant_type")


_JSP_TYPES = ["string", "number", "boolean", "null", "object", "array"]

ORACLE_JSON_SCHEMA = f"""
WITH built AS (
  SELECT CASE
      WHEN event_id % 13 = 0 THEN '{{"broken": '
      WHEN event_id % 17 = 0 THEN NULL
      ELSE '{{"id": ' || event_id || ', "type": "' || event_type || '"'
           || CASE WHEN event_id % 3 = 0
                   THEN ', "uid": ' || user_id ELSE '' END
           || CASE WHEN event_id % 5 = 0
                   THEN ', "flags": [1, 2]' ELSE '' END
           || CASE WHEN event_id % 7 = 0
                   THEN ', "extra": null' ELSE '' END
           || CASE WHEN event_id % 11 = 0
                   THEN ', "meta": {{"a": true}}' ELSE '' END
           || '}}' END AS j
  FROM events),
objs AS (SELECT j FROM built
         WHERE j IS NOT NULL AND json_valid(j)
           AND json_type(j::JSON) = 'OBJECT'),
docs AS (SELECT count(*) AS n FROM objs),
typed AS (SELECT key,
                 CASE WHEN t IN ('UBIGINT', 'BIGINT', 'DOUBLE')
                        THEN 'number'
                      WHEN t = 'VARCHAR' THEN 'string'
                      WHEN t = 'BOOLEAN' THEN 'boolean'
                      WHEN t = 'NULL' THEN 'null'
                      WHEN t = 'OBJECT' THEN 'object'
                      ELSE 'array' END AS cls
          FROM (SELECT coalesce(json_type(j::JSON, key), 'NULL') AS t,
                       key
                FROM (SELECT j, unnest(json_keys(j)) AS key
                      FROM objs))),
agg AS (SELECT key,
  {", ".join(f"sum(CASE WHEN cls = '{t}' THEN 1 ELSE 0 END)::BIGINT AS n_{t}" for t in _JSP_TYPES)}
  FROM typed GROUP BY key)
SELECT key,
       ({" + ".join(f"n_{t}" for t in _JSP_TYPES)}) AS n_present,
       floor((({" + ".join(f"n_{t}" for t in _JSP_TYPES)})::DOUBLE
             / (SELECT n FROM docs)) * 1e{R} + 0.5) / 1e{R} AS frac_present,
       {", ".join(f"n_{t}" for t in _JSP_TYPES)},
       list_sort([{", ".join(f"struct_pack(neg := -n_{t}, t := '{t}')" for t in _JSP_TYPES)}])[1].t AS dominant_type
FROM agg
"""


def q_chunk_overlap_documents(spark, sf_dir):
    """ChunkOverlapDetector gate: CDC-chunk every 5th document plus a
    planted 85%-overlap variant of every 15th (same text, new tail),
    then detect pairs sharing >= 30% of the smaller side's chunks.
    The oracle replays chunking (closed-form Gear hash) AND the
    df-filtered hash join."""
    from flink_ml__spark.functions.curation import (
        ChunkOverlapDetector,
        ContentDefinedChunker,
    )

    docs = (load_table(spark, "documents", sf_dir)
            .filter(F.col("doc_id") % 5 == 0).select("doc_id", "text"))
    planted = (docs.filter(F.col("doc_id") % 15 == 0)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       F.concat("text",
                                F.lit(" an appended tail of fresh "
                                      "words")).alias("text")))
    corpus = docs.unionByName(planted)
    chunked = ContentDefinedChunker().transform(corpus)
    return (ChunkOverlapDetector().setMinFraction(0.3)
            .pairs(chunked)
            .select("id_a", "id_b", "n_shared",
                    _fq("overlap_frac").alias("overlap_frac")))


ORACLE_CHUNK_OVERLAP = f"""
WITH corp AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         text || ' an appended tail of fresh words' AS text
  FROM documents WHERE doc_id % 15 = 0),
docs AS (SELECT doc_id, text FROM corp
         WHERE text IS NOT NULL AND length(text) > 0),
gears AS (SELECT doc_id, text,
  list_transform(range(1, length(text) + 1),
    i -> ('0x' || substr(md5(ascii(substr(text, i, 1))::VARCHAR),
          1, 15))::BIGINT % 2147483648) AS gv
  FROM docs),
hs AS (SELECT doc_id, text,
  list_transform(range(1, len(gv) + 1), i ->
    ((list_sum(list_transform(range(0, least(32, i)),
       j -> gv[i - j]::HUGEINT * ({"[" + ", ".join(str(1 << j) for j in range(32)) + "]"})[j + 1]::HUGEINT))
      % 4294967296))::BIGINT) AS h
  FROM gears),
bounds AS (SELECT doc_id, text,
  list_concat(list_concat([0::BIGINT],
              list_filter(range(1, length(text)),
                          i -> (h[i] % 64) = 0)),
              [length(text)::BIGINT]) AS b
  FROM hs),
ex AS (SELECT doc_id, text, b, unnest(range(1, len(b))) AS k
       FROM bounds),
dh AS (SELECT DISTINCT doc_id,
              md5(substr(text, (b[k] + 1)::INT,
                         (b[k + 1] - b[k])::INT)) AS chunk_hash
       FROM ex),
sizes AS (SELECT doc_id, count(*) AS sz FROM dh GROUP BY doc_id),
df_ok AS (SELECT chunk_hash FROM dh GROUP BY chunk_hash
          HAVING count(*) > 1 AND count(*) <= 1000),
keyed AS (SELECT dh.doc_id, dh.chunk_hash
          FROM dh JOIN df_ok USING (chunk_hash)),
shared AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                  count(*) AS n_shared
           FROM keyed l JOIN keyed r ON l.chunk_hash = r.chunk_hash
            AND l.doc_id < r.doc_id
           GROUP BY 1, 2)
SELECT id_a, id_b, n_shared,
       floor((n_shared::DOUBLE / least(sa.sz, sb.sz)) * 1e{R} + 0.5) / 1e{R}
         AS overlap_frac
FROM shared JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared::DOUBLE / least(sa.sz, sb.sz) >= 0.3
"""


def q_prototypicality_embeddings(spark, sf_dir):
    """KMeansModel.prototypicality gate with DETERMINISTIC centroids:
    the 4 group-mean vectors of vec_id % 4 (one agg, folded as
    literals) stand in for a seeded fit, so assignment + cosine to the
    assigned centroid replay exactly in SQL — the apply path under
    test is the production one."""
    from flink_ml__spark.operators.kmeans import KMeansModel

    emb = load_table(spark, "embeddings", sf_dir)
    arr = F.transform("embedding", lambda x: x.cast("double"))
    dim = 64
    means = (emb.select((F.col("vec_id") % 4).alias("g"),
                        arr.alias("__v"))
             .groupBy("g")
             .agg(*[F.avg(F.element_at("__v", d)).alias(f"c{d}")
                    for d in range(1, dim + 1)])
             .orderBy("g").collect())
    cents = [[r[f"c{d}"] for d in range(1, dim + 1)] for r in means]
    model = KMeansModel(cents).setFeaturesCol("embedding")
    out = model.prototypicality(emb)
    return out.select("vec_id", "prediction",
                      _fq("prototypicality")
                       .alias("prototypicality"))


ORACLE_PROTOTYPICALITY = f"""
WITH cents AS (
  SELECT vec_id % 4 AS g, [avg(embedding[1]), avg(embedding[2]), avg(embedding[3]), avg(embedding[4]), avg(embedding[5]), avg(embedding[6]), avg(embedding[7]), avg(embedding[8]), avg(embedding[9]), avg(embedding[10]), avg(embedding[11]), avg(embedding[12]), avg(embedding[13]), avg(embedding[14]), avg(embedding[15]), avg(embedding[16]), avg(embedding[17]), avg(embedding[18]), avg(embedding[19]), avg(embedding[20]), avg(embedding[21]), avg(embedding[22]), avg(embedding[23]), avg(embedding[24]), avg(embedding[25]), avg(embedding[26]), avg(embedding[27]), avg(embedding[28]), avg(embedding[29]), avg(embedding[30]), avg(embedding[31]), avg(embedding[32]), avg(embedding[33]), avg(embedding[34]), avg(embedding[35]), avg(embedding[36]), avg(embedding[37]), avg(embedding[38]), avg(embedding[39]), avg(embedding[40]), avg(embedding[41]), avg(embedding[42]), avg(embedding[43]), avg(embedding[44]), avg(embedding[45]), avg(embedding[46]), avg(embedding[47]), avg(embedding[48]), avg(embedding[49]), avg(embedding[50]), avg(embedding[51]), avg(embedding[52]), avg(embedding[53]), avg(embedding[54]), avg(embedding[55]), avg(embedding[56]), avg(embedding[57]), avg(embedding[58]), avg(embedding[59]), avg(embedding[60]), avg(embedding[61]), avg(embedding[62]), avg(embedding[63]), avg(embedding[64])] AS c
  FROM embeddings GROUP BY 1),
allc AS (SELECT list(struct_pack(g := g, c := c) ORDER BY g) AS cs
         FROM cents),
base AS (SELECT e.vec_id,
                list_transform(e.embedding, x -> x::DOUBLE) AS x, cs
         FROM embeddings e CROSS JOIN allc),
scored AS (SELECT vec_id, x, cs,
  list_transform(cs, s -> list_sum(list_transform(range(1, 65),
      d -> (x[d] - s.c[d]) * (x[d] - s.c[d])))) AS dists
  FROM base),
pick AS (SELECT vec_id, x,
                cs[list_position(dists, list_min(dists))] AS s
         FROM scored),
fin AS (SELECT vec_id, s.g AS prediction,
  list_sum(list_transform(range(1, 65), d -> x[d] * s.c[d]))
    / (sqrt(list_sum(list_transform(x, v -> v * v)))
       * sqrt(list_sum(list_transform(s.c, v -> v * v)))) AS proto,
  sqrt(list_sum(list_transform(x, v -> v * v))) AS xn
  FROM pick)
SELECT vec_id, prediction::INT AS prediction,
       CASE WHEN xn > 0 THEN floor((proto) * 1e{R} + 0.5) / 1e{R} END
         AS prototypicality
FROM fin
"""


def q_json_drift_events(spark, sf_dir):
    """JsonSchemaProfiler.drift gate: even-id events are the reference
    feed, odd-id events a drifted deploy — "uid" silently becomes a
    string, "extra" disappears, "v2" appears — and the report must
    call out each, with presence-rate shifts, identically to the
    two-profile DuckDB replay."""
    from flink_ml__spark.functions.linkage import JsonSchemaProfiler

    ev = load_table(spark, "events", sf_dir)
    k = F.col("event_id")

    def build(frame, drifted):
        uid = (F.concat(F.lit(', "uid": "u'),
                        F.col("user_id").cast("string"), F.lit('"'))
               if drifted else
               F.concat(F.lit(', "uid": '),
                        F.col("user_id").cast("string")))
        parts = [
            F.lit('{"id": '), k.cast("string"),
            F.lit(', "type": "'), F.col("event_type"), F.lit('"'),
            F.when(k % 3 == 0, uid).otherwise(F.lit("")),
            F.when(k % 5 == 0, F.lit(', "flags": [1, 2]'))
             .otherwise(F.lit("")),
        ]
        if drifted:
            parts.append(F.when(k % 3 == 0, F.lit(', "v2": true'))
                          .otherwise(F.lit("")))
        else:
            parts.append(F.when(k % 7 == 0, F.lit(', "extra": null'))
                          .otherwise(F.lit("")))
        parts.append(F.lit("}"))
        return frame.select(F.concat(*parts).alias("j"))

    ref = build(ev.filter(k % 2 == 0), drifted=False)
    cur = build(ev.filter(k % 2 == 1), drifted=True)
    rep = (JsonSchemaProfiler().setInputCol("j").drift(ref, cur))
    return rep.select(
        "key", "status", "ref_present", "cur_present",
        _fq("ref_frac").alias("ref_frac"),
        _fq("cur_frac").alias("cur_frac"),
        _fq("frac_shift").alias("frac_shift"),
        "ref_dominant", "cur_dominant", "type_changed")


def _jsp_drift_oracle() -> str:
    def built(par, drifted):
        uid = ("""', "uid": "u' || user_id || '"'"""
               if drifted else """', "uid": ' || user_id""")
        tail = ("""|| CASE WHEN event_id % 3 = 0 THEN ', "v2": true'
                 ELSE '' END""" if drifted else
                """|| CASE WHEN event_id % 7 = 0
                 THEN ', "extra": null' ELSE '' END""")
        return f"""
  SELECT '{{"id": ' || event_id || ', "type": "' || event_type || '"'
         || CASE WHEN event_id % 3 = 0 THEN {uid} ELSE '' END
         || CASE WHEN event_id % 5 = 0 THEN ', "flags": [1, 2]'
                 ELSE '' END
         {tail}
         || '}}' AS j
  FROM events WHERE event_id % 2 = {par}"""

    def profile(p, src_sql):
        counts = ", ".join(
            f"sum(CASE WHEN cls = '{t}' THEN 1 ELSE 0 END)::BIGINT"
            f" AS n_{t}" for t in _JSP_TYPES)
        present = " + ".join(f"n_{t}" for t in _JSP_TYPES)
        dom = ", ".join(f"struct_pack(neg := -n_{t}, t := '{t}')"
                        for t in _JSP_TYPES)
        return f"""
{p}built AS ({src_sql}),
{p}objs AS (SELECT j FROM {p}built
            WHERE j IS NOT NULL AND json_valid(j)
              AND json_type(j::JSON) = 'OBJECT'),
{p}docs AS (SELECT count(*) AS n FROM {p}objs),
{p}typed AS (SELECT key,
                 CASE WHEN t IN ('UBIGINT', 'BIGINT', 'DOUBLE')
                        THEN 'number'
                      WHEN t = 'VARCHAR' THEN 'string'
                      WHEN t = 'BOOLEAN' THEN 'boolean'
                      WHEN t = 'NULL' THEN 'null'
                      WHEN t = 'OBJECT' THEN 'object'
                      ELSE 'array' END AS cls
          FROM (SELECT coalesce(json_type(j::JSON, key), 'NULL') AS t,
                       key
                FROM (SELECT j, unnest(json_keys(j)) AS key
                      FROM {p}objs))),
{p}agg AS (SELECT key, {counts} FROM {p}typed GROUP BY key),
{p}profile AS (
  SELECT key, ({present}) AS n_present,
         ({present})::DOUBLE / (SELECT n FROM {p}docs) AS frac,
         list_sort([{dom}])[1].t AS dominant
  FROM {p}agg)"""

    return f"""
WITH {profile("r_", built(0, False))},
{profile("c_", built(1, True))}
SELECT coalesce(r.key, c.key) AS key,
       CASE WHEN r.key IS NULL THEN 'added'
            WHEN c.key IS NULL THEN 'removed'
            ELSE 'common' END AS status,
       coalesce(r.n_present, 0) AS ref_present,
       coalesce(c.n_present, 0) AS cur_present,
       floor((coalesce(r.frac, 0.0)) * 1e{R} + 0.5) / 1e{R} AS ref_frac,
       floor((coalesce(c.frac, 0.0)) * 1e{R} + 0.5) / 1e{R} AS cur_frac,
       floor((coalesce(c.frac, 0.0) - coalesce(r.frac, 0.0)) * 1e{R} + 0.5) / 1e{R}
         AS frac_shift,
       r.dominant AS ref_dominant,
       c.dominant AS cur_dominant,
       CASE WHEN r.dominant IS NOT NULL AND c.dominant IS NOT NULL
            THEN r.dominant <> c.dominant ELSE FALSE END
         AS type_changed
FROM r_profile r FULL OUTER JOIN c_profile c USING (key)
"""


def q_hashed_tf_documents(spark, sf_dir):
    """HashedTfEmbedder gate: model-free hashed-TF embeddings
    (dim=16, sublinear off) over documents — pure HOF map pass,
    replayed bucket-for-bucket by the DuckDB oracle."""
    from flink_ml__spark.functions.text import HashedTfEmbedder

    docs = load_table(spark, "documents", sf_dir)
    out = HashedTfEmbedder().setDim(16).transform(docs)
    # exploded (doc, bucket, weight) rows, NOT an array column: the
    # driver gate canonicalizes with a pandas sort, where list cells
    # are unsortable (posexplode_outer keeps token-free docs as one
    # NULL row)
    return out.select(
        "doc_id", F.posexplode_outer(
            F.transform("embedding", lambda x: _fq(x))))


_HTF_DIM = 16

ORACLE_HASHED_TF = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
b AS (SELECT doc_id, len(toks) AS n,
             list_transform(toks, t -> {_H60.format(x='t')}
                                        % {_HTF_DIM}) AS bk
      FROM toks),
c AS (SELECT doc_id, n,
             list_transform(range(0, {_HTF_DIM}),
                            i -> len(list_filter(bk, x -> x = i))::DOUBLE)
               AS cnt
      FROM b),
n2 AS (SELECT doc_id, n, cnt,
              sqrt(list_sum(list_transform(cnt, x -> x * x))) AS nrm
       FROM c),
f AS (SELECT doc_id,
             CASE WHEN n > 0
                  THEN list_transform(cnt, x -> floor((x / nrm) * 1e{R} + 0.5) / 1e{R})
             END AS emb
      FROM n2)
SELECT doc_id, i - 1 AS pos, emb[i] AS col
FROM f, range(1, {_HTF_DIM} + 1) t(i) WHERE emb IS NOT NULL
UNION ALL
SELECT doc_id, NULL AS pos, NULL AS col FROM f WHERE emb IS NULL
"""


def q_cdc_chunks_documents(spark, sf_dir):
    """ContentDefinedChunker gate (pure-predicate mode, minChunk=1,
    no maxChunk): Gear-hash chunk boundaries, offsets, lengths and
    chunk md5s over every 5th document — the DuckDB oracle replays
    the rolling hash through its 32-term shifted-sum closed form."""
    from flink_ml__spark.functions.curation import ContentDefinedChunker

    docs = (load_table(spark, "documents", sf_dir)
            .filter(F.col("doc_id") % 5 == 0))
    op = ContentDefinedChunker()  # maskBits=6 default
    return op.transform(docs).select(
        "doc_id", "chunk_index", "chunk_start", "chunk_len",
        "chunk_hash")


ORACLE_CDC_CHUNKS = f"""
WITH docs AS (SELECT doc_id, text FROM documents
              WHERE doc_id % 5 = 0 AND text IS NOT NULL
                AND length(text) > 0),
gears AS (SELECT doc_id, text,
  list_transform(range(1, length(text) + 1),
    i -> ('0x' || substr(md5(ascii(substr(text, i, 1))::VARCHAR),
          1, 15))::BIGINT % 2147483648) AS gv
  FROM docs),
hs AS (SELECT doc_id, text,
  list_transform(range(1, len(gv) + 1), i ->
    ((list_sum(list_transform(range(0, least(32, i)),
       j -> gv[i - j]::HUGEINT * ([1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536, 131072, 262144, 524288, 1048576, 2097152, 4194304, 8388608, 16777216, 33554432, 67108864, 134217728, 268435456, 536870912, 1073741824, 2147483648])[j + 1]::HUGEINT))
      % 4294967296))::BIGINT) AS h
  FROM gears),
bounds AS (SELECT doc_id, text,
  list_concat(list_concat([0::BIGINT],
              list_filter(range(1, length(text)),
                          i -> (h[i] % 64) = 0)),
              [length(text)::BIGINT]) AS b
  FROM hs),
ex AS (SELECT doc_id, text, b,
              unnest(range(1, len(b))) AS k
       FROM bounds)
SELECT doc_id, k::INT AS chunk_index,
       (b[k] + 1)::INT AS chunk_start,
       (b[k + 1] - b[k])::INT AS chunk_len,
       md5(substr(text, (b[k] + 1)::INT, (b[k + 1] - b[k])::INT))
         AS chunk_hash
FROM ex
"""


def q_hybrid_rrf_documents(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-10 and exact cosine top-10
    (doc_id and vec_id share the id space) fused with reciprocal rank
    fusion — the oracle replays BOTH rankers and the fusion
    arithmetic."""
    from flink_ml__spark.functions.retrieval import (
        BM25Retriever,
        ReciprocalRankFusion,
    )
    from flink_ml__spark.functions.text import TOKEN_SPLIT

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    toks = F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))),
                            TOKEN_SPLIT), lambda t: t != "")
    qs = (docs.filter(F.col("doc_id") % 50 == 0)
          .select(F.col("doc_id").alias("query_id"),
                  F.array_join(F.slice(toks, 1, 6), " ")
                  .alias("query_text")))
    lex = BM25Retriever().setTopK(10).retrieve(docs, qs) \
        .select("query_id", "doc_id", "rank")
    sem = (CosineTopK().setK(10)
           .topk(emb.filter(F.col("vec_id") % 50 == 0), emb)
           .select("query_id", F.col("neighbor_id").alias("doc_id"),
                   "rank"))
    fused = ReciprocalRankFusion().setK0(60.0).setTopK(10) \
        .fuse([lex, sem])
    return fused.select("query_id", "doc_id",
                        _fq("rrf_score").alias("rrf_score"),
                        "n_lists", "rank")


ORACLE_HYBRID_RRF = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
       GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
             (SELECT sum(tf) FROM tf)::DOUBLE
             / (SELECT count(*) FROM documents) AS avgdl),
q AS (SELECT doc_id AS query_id,
             unnest(list_distinct(toks[1:6])) AS term
      FROM toks WHERE doc_id % 50 = 0),
m AS (SELECT q.query_id, tf.doc_id,
             ln(1 + (c.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl)) AS s
      FROM q JOIN tf USING (term) JOIN dfq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN c),
sc AS (SELECT query_id, doc_id, sum(s) AS score FROM m GROUP BY 1, 2),
lex AS (SELECT query_id, doc_id, row_number() OVER (
          PARTITION BY query_id
          ORDER BY floor(score * 1e9 + 0.5)::BIGINT DESC, doc_id ASC) AS "rank"
        FROM sc),
base AS (SELECT vec_id,
                list_transform(embedding, v -> v::DOUBLE) AS emb
         FROM embeddings),
nv AS (SELECT vec_id, emb,
              sqrt(list_aggregate(list_transform(emb, x -> x*x), 'sum'))
              AS nrm FROM base),
qv AS (SELECT * FROM nv WHERE vec_id % 50 = 0),
cosd AS (SELECT qv.vec_id AS query_id, cv.vec_id AS doc_id,
                list_dot_product(qv.emb, cv.emb) / (qv.nrm * cv.nrm)
                AS cosine
         FROM qv JOIN nv cv ON qv.vec_id <> cv.vec_id),
sem AS (SELECT query_id, doc_id, row_number() OVER (
          PARTITION BY query_id
          ORDER BY cosine DESC, doc_id ASC) AS "rank"
        FROM cosd),
u AS (SELECT query_id, doc_id, "rank" FROM lex WHERE "rank" <= 10
      UNION ALL
      SELECT query_id, doc_id, "rank" FROM sem WHERE "rank" <= 10),
f AS (SELECT query_id, doc_id, sum(1.0 / (60.0 + "rank")) AS rrf,
             count(*) AS n_lists
      FROM u GROUP BY 1, 2),
rr AS (SELECT *, row_number() OVER (
         PARTITION BY query_id
         ORDER BY floor(rrf * 1e12 + 0.5)::BIGINT DESC, doc_id ASC) AS "rank"
       FROM f)
SELECT query_id, doc_id, floor((rrf) * 1e{R} + 0.5) / 1e{R} AS rrf_score, n_lists, "rank"
FROM rr WHERE "rank" <= 10
"""


def q_quality_classifier_documents(spark, sf_dir):
    """Hard gate for the model-based quality classifier (distributed
    L-BFGS has no SQL oracle): train on a planted separable split —
    even doc_ids get a curated-reference marker suffix, odd doc_ids a
    spam marker — then emit every document the model fails to place on
    its side with margin (positives below 0.8, negatives above 0.2).
    Expected EMPTY; WHERE-false oracle makes this a count/hash-checked
    row."""
    from flink_ml__spark.functions.curation import QualityClassifier

    docs = load_table(spark, "documents", sf_dir)
    pos = (docs.filter(F.col("doc_id") % 2 == 0)
           .withColumn("text", F.concat_ws(
               " ", "text", F.lit("curated reference exemplary prose"))))
    neg = (docs.filter(F.col("doc_id") % 2 == 1)
           .withColumn("text", F.concat_ws(
               " ", "text", F.lit("spammy clickbait lowgrade noise"))))
    # L-BFGS converges on the planted separable split well before 12
    # iterations (measured sf0.1: pos_min 0.965 / neg_max 0.016 at 12
    # vs 0.963 / 0.015 at 30) — more iterations only burn bench time
    model = (QualityClassifier().setMaxIter(12).setNumFeatures(1 << 16)
             .fit(pos, neg))
    p = model.transform(pos).filter(F.col("quality_prob") <= 0.8)
    n = model.transform(neg).filter(F.col("quality_prob") >= 0.2)
    return (p.unionByName(n)
            .select("doc_id", _fq("quality_prob", 3)
                    .alias("quality_prob")))


ORACLE_QUALITY_CLASSIFIER = """
SELECT doc_id::BIGINT AS doc_id, 0.0::DOUBLE AS quality_prob
FROM documents WHERE false
"""


def q_token_budget_documents(spark, sf_dir):
    """Per-language 15k-char budget fill in salted-hash order; the
    oracle computes the NAIVE global running-sum rule directly, so
    the two-phase bucket-threshold implementation must equal it."""
    from flink_ml__spark.functions.curation import TokenBudgetSampler

    docs = load_table(spark, "documents", sf_dir)
    op = (TokenBudgetSampler().setGroupCol("lang").setTokenCol("n_chars")
          .setBudgets({"en": 15000, "de": 15000, "fr": 15000,
                       "es": 15000, "zh": 15000}))
    return op.transform(docs).select("doc_id", "lang", "n_chars")


ORACLE_TOKEN_BUDGET = """
WITH t AS (
  SELECT doc_id, lang, n_chars,
         ('0x' || substring(md5('budget:' || doc_id), 1, 4))::INT AS b,
         md5('budget:' || doc_id) AS hx
  FROM documents WHERE lang IN ('en', 'de', 'fr', 'es', 'zh')),
o AS (
  SELECT doc_id, lang, n_chars,
         coalesce(sum(n_chars) OVER (
             PARTITION BY lang ORDER BY b, hx, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS cum_before
  FROM t)
SELECT doc_id, lang, n_chars FROM o WHERE cum_before < 15000
"""


def q_domain_divergence_documents(spark, sf_dir):
    """Per-language unigram-distribution KL vs the whole corpus over
    the global top-300 tokens (add-one smoothing) — the drift monitor
    companion of corpus_profile_documents."""
    from flink_ml__spark.functions.curation import DomainDivergence

    docs = load_table(spark, "documents", sf_dir)
    out = DomainDivergence().setGroupCol("lang").setVocabSize(300) \
        .transform(docs)
    return out.select("lang", "n_vocab_tokens",
                      _fq("kl_to_corpus").alias("kl_to_corpus"))


ORACLE_DOMAIN_DIVERGENCE = f"""
WITH toks AS (
  SELECT lang AS g,
         unnest(list_filter(string_split_regex(lower(text),
                                               '[^a-zA-Z0-9'']+'),
                            x -> x <> '')) AS t
  FROM documents),
gt AS (SELECT g, t, count(*) AS c_gt FROM toks GROUP BY g, t),
vocab AS (SELECT t, sum(c_gt) AS c_t FROM gt GROUP BY t
          ORDER BY c_t DESC, t ASC LIMIT 300),
iv AS (SELECT gt.g, gt.t, gt.c_gt FROM gt JOIN vocab USING (t)),
cg AS (SELECT g, sum(c_gt) AS c_g FROM iv GROUP BY g),
tot AS (SELECT sum(c_t) AS tc, count(*) AS nv FROM vocab),
groups AS (SELECT DISTINCT lang AS g FROM documents),
grid AS (
  SELECT groups.g, vocab.t, vocab.c_t,
         coalesce(iv.c_gt, 0) AS c_gt,
         coalesce(cg.c_g, 0) AS c_g
  FROM groups CROSS JOIN vocab
  LEFT JOIN iv ON iv.g = groups.g AND iv.t = vocab.t
  LEFT JOIN cg ON cg.g = groups.g),
kl AS (
  SELECT g, max(c_g) AS n_vocab_tokens,
         sum(((c_gt + 1.0) / (c_g + nv)) *
             ln(((c_gt + 1.0) / (c_g + nv)) /
                ((c_t + 1.0) / (tc + nv)))) AS kl
  FROM grid CROSS JOIN tot GROUP BY g)
SELECT g AS lang, n_vocab_tokens::BIGINT AS n_vocab_tokens,
       floor((kl) * 1e{R} + 0.5) / 1e{R} AS kl_to_corpus
FROM kl
"""


def q_epoch_shuffle_documents(spark, sf_dir):
    """Deterministic epoch-1 training order: (shard, position) per
    document from a salted md5 — reproducible global shuffle."""
    from flink_ml__spark.functions.curation import EpochShuffler

    docs = load_table(spark, "documents", sf_dir)
    out = EpochShuffler().setNumShards(8).setEpoch(1).transform(docs)
    return out.select("doc_id", "shard", "position")


ORACLE_EPOCH_SHUFFLE = """
WITH h AS (
  SELECT doc_id,
         md5('epoch1:' || doc_id) AS hx,
         (('0x' || substring(md5('epoch1:' || doc_id), 1, 4))::INT % 8)
         AS shard
  FROM documents)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard
                          ORDER BY hx ASC, doc_id ASC) - 1 AS position
FROM h
"""


def q_frequent_ngrams_documents(spark, sf_dir):
    """Corpus-level boilerplate mining: global top-40 word trigrams by
    document frequency (exact two-phase count-distinct, top-k via
    TakeOrderedAndProject — no global sort)."""
    from flink_ml__spark.functions.curation import FrequentNgrams

    docs = load_table(spark, "documents", sf_dir)
    return FrequentNgrams().setN(3).setTopK(40).transform(docs)


# DuckDB replays the n-gram assembly with a lateral unnest over the
# token-start positions; the ORDER BY tie-breaks to a total order so the
# LIMIT cut is engine-independent
ORACLE_FREQUENT_NGRAMS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9'']+'),
                     x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, array_to_string(t[g : g + 2], ' ') AS ngram
  FROM toks, unnest(range(1, len(t) - 1)) AS r(g)
  WHERE len(t) >= 3),
agg AS (
  SELECT ngram, count(*) AS total_count, count(DISTINCT doc_id) AS doc_freq
  FROM grams GROUP BY ngram)
SELECT ngram, doc_freq, total_count
FROM agg WHERE doc_freq >= 2
ORDER BY doc_freq DESC, total_count DESC, ngram ASC
LIMIT 40
"""


def q_normalize_documents(spark, sf_dir):
    """Canonical text normalization (lowercase + whitespace unification
    + punctuation strip) — the pre-hash pass of the curation chain."""
    from flink_ml__spark.functions.text import TextNormalizer

    docs = load_table(spark, "documents", sf_dir)
    out = TextNormalizer().setStripPunct(True).transform(docs)
    return out.select("doc_id", "text_norm", "text_norm_chars")


# same pipeline in DuckDB: lower -> collapse [ \t\n\r\f]+ -> strip
# non-[a-zA-Z0-9 '] -> trim; the 'g' flag mirrors Spark's
# global-by-default regexp_replace
ORACLE_NORMALIZE = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
             regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'),
             '[^a-zA-Z0-9 '']', '', 'g')) AS text_norm
  FROM documents)
SELECT doc_id, text_norm,
       coalesce(length(text_norm), 0) AS text_norm_chars
FROM n
"""


def q_fingerprint_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return (Fingerprinter().transform(docs)
            .select("doc_id", "fingerprint"))


ORACLE_FINGERPRINT = f"""
SELECT doc_id, {_NORM_SQL} AS fingerprint FROM documents
"""

def q_winnow_fingerprints_documents(spark, sf_dir):
    from flink_ml__spark.functions.text import WinnowingFingerprinter

    docs = load_table(spark, "documents", sf_dir)
    out = (WinnowingFingerprinter().setGramSize(5).setWindowSize(4)
           .transform(docs))
    # the driver's canonicalizer sorts output columns with pandas, which
    # cannot hash array cells — serialize the (sorted, distinct)
    # fingerprint list to a CSV string on both sides of the gate
    return out.select(
        "doc_id",
        F.array_join(F.transform("fingerprints",
                                 lambda x: x.cast("string")), ",")
        .alias("fingerprints"))


def _oracle_winnow(k: int = 5, w: int = 4) -> str:
    return f"""
WITH g AS (SELECT doc_id, lower(text) AS s FROM documents),
h AS (
  SELECT doc_id,
         CASE WHEN s IS NULL THEN []::BIGINT[]
              WHEN length(s) >= {k}
              THEN list_transform(range(1, length(s) - {k} + 2),
                     i -> {_H60.format(x=f'substring(s, i, {k})')})
              ELSE [{_H60.format(x='s')}] END AS hs
  FROM g),
fp AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN []::BIGINT[]
              WHEN len(hs) <= {w} THEN [list_min(hs)]
              ELSE list_sort(list_distinct(list_transform(
                     range(1, len(hs) - {w} + 2),
                     i -> list_min(list_slice(hs, i, i + {w} - 1))))) END
           AS fps
  FROM h)
SELECT doc_id,
       coalesce(array_to_string(list_transform(fps, x -> x::VARCHAR), ','),
                '') AS fingerprints
FROM fp
"""


# ---------------------------------------------------------------------------
# 21b. AutoFeatureTransformer (schema-driven dispatch: string→date
# features, double→mean-impute, int→one-hot)
# ---------------------------------------------------------------------------

def q_auto_features_orders(spark, sf_dir):
    from pyspark.ml.functions import vector_to_array

    from flink_ml__spark.functions.feature_gen import AutoFeatureTransformer

    orders = load_table(spark, "orders", sf_dir)
    base = orders.select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
        "o_totalprice",
        (F.col("o_orderkey") % 5).cast("int").alias("bucket"))
    out = AutoFeatureTransformer().transform(base)
    # serialize the one-hot vector to a CSV string: the driver's
    # canonicalizer cannot sort array-typed cells (see winnow note)
    return out.select(
        "date_str", "o_totalprice", "bucket",
        "date_str_year", "date_str_month", "date_str_day",
        _fq("o_totalprice_imputed").alias("o_totalprice_imputed"),
        F.array_join(
            F.transform(vector_to_array("bucket_onehot"),
                        lambda v: v.cast("string")), ",")
        .alias("bucket_onehot"))


ORACLE_AUTO_FEATURES = f"""
WITH base AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS date_str,
         o_totalprice,
         (o_orderkey % 5)::INT AS bucket
  FROM orders),
n AS (SELECT (max(bucket) + 1)::INT AS n_cat FROM base)
SELECT date_str, o_totalprice, bucket,
       year(strptime(date_str, '%Y-%m-%d'))::INT AS date_str_year,
       lpad(month(strptime(date_str, '%Y-%m-%d'))::VARCHAR, 2, '0')
         AS date_str_month,
       lpad(day(strptime(date_str, '%Y-%m-%d'))::VARCHAR, 2, '0')
         AS date_str_day,
       floor((o_totalprice) * 1e{R} + 0.5) / 1e{R} AS o_totalprice_imputed,
       array_to_string(
         list_transform(range(0, n_cat),
                        i -> (CASE WHEN i = bucket THEN 1.0::DOUBLE
                              ELSE 0.0::DOUBLE END)::VARCHAR), ',')
         AS bucket_onehot
FROM base, n
"""


# ---------------------------------------------------------------------------
# 21c. end-to-end curation pipeline (the composition a training-data
# user actually runs: quality filter → language filter → exact dedup →
# MinHash near-dedup), with the full chain replayed by one DuckDB query
# ---------------------------------------------------------------------------

def q_curation_pipeline_documents(spark, sf_dir):
    from flink_ml__spark.functions.text import (
        LanguageIdentifier,
        QualityFilter,
    )
    from flink_ml__spark.pipeline import PipelineModel

    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, "documents", sf_dir)
    staged = PipelineModel([QualityFilter().setMinScore(0.5),
                            LanguageIdentifier()]).transform(docs)
    staged = staged.filter(F.col("lang_pred") == "en")
    # barrier before the dedup stages: their self-joins reference the
    # filtered frame from multiple branches, and without materializing
    # it the quality+lang projections recompute once per branch (~4× at
    # sf0.1). At lake scale this persist is a parquet checkpoint of the
    # surviving ~half of the corpus.
    staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    staged.count()  # eager: branches race to fill a lazy cache
    staged = ExactDeduplicator().transform(staged)
    out = MinHashDeduplicator().setSeed(42).setThreshold(0.7).transform(staged)
    return out.select("doc_id", "lang_pred",
                      _fq("quality_score").alias("quality_score"))


def _oracle_curation_pipeline() -> str:
    mh = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    stop = ", ".join(repr(w) for w in LANG_PROFILES["en"])
    return f"""
WITH qt AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(text),
             '[^a-zA-Z0-9'']+'), x -> x <> '')) AS n_tokens_q,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS punct,
         len(list_intersect(
             list_distinct(list_filter(string_split_regex(lower(text),
                 '[^a-zA-Z0-9'']+'), x -> x <> '')),
             [{stop}])) AS stop
  FROM documents),
qm AS (
  SELECT doc_id, text, n_tokens_q,
         alpha::DOUBLE / greatest(n_chars, 1) AS alpha_ratio,
         punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
         stop::DOUBLE / greatest(n_tokens_q, 1) AS stopword_ratio
  FROM qt),
qs AS (
  SELECT doc_id, text,
         least(n_tokens_q / 20.0, 1.0) * 0.3
           + alpha_ratio * 0.4
           + least(stopword_ratio * 5.0, 1.0) * 0.2
           + (1 - least(punct_ratio * 10.0, 1.0)) * 0.1 AS score
  FROM qm),
q AS (SELECT doc_id, text, score FROM qs WHERE score >= 0.5),
lp AS ({_lang_pred_sql("q")}),
ql AS (SELECT q.doc_id, q.text, q.score, lp.lang_pred
       FROM q JOIN lp ON q.doc_id = lp.doc_id
       WHERE lp.lang_pred = 'en'),
ek AS (SELECT min(doc_id) AS doc_id
       FROM (SELECT doc_id, {_NORM_SQL} AS fp FROM ql) GROUP BY fp),
e AS (SELECT ql.* FROM ql WHERE doc_id IN (SELECT doc_id FROM ek)),
{_minhash_dup_ctes(mh, "e", "mh")}
SELECT doc_id, lang_pred, floor((score) * 1e{R} + 0.5) / 1e{R} AS quality_score
FROM e WHERE doc_id NOT IN (SELECT id_r FROM mhdups)
"""


_LF_PLANT = [
    "too short",                                          # < minWords
    "Visit our cookie policy page for details.",          # blocklisted
    "This properly long sentence survives every rule just fine.",
]


def q_line_filter_documents(spark, sf_dir):
    """C4 line-filter gate: the corpus is single-line, so three known
    lines are planted per document (one too short, one blocklisted, one
    clean) and the original text contributes per-doc variation via its
    own terminal-punctuation/word-count status."""
    from flink_ml__spark.functions.curation import LineFilter

    docs = load_table(spark, "documents", sf_dir)
    # coalesce BEFORE concat_ws: concat_ws skips NULLs while the
    # oracle's '||' propagates them — pin both to the empty string
    aug = docs.withColumn(
        "text", F.concat_ws("\n", F.coalesce(F.col("text"), F.lit("")),
                            *[F.lit(x) for x in _LF_PLANT]))
    out = LineFilter().transform(aug)
    return out.select("doc_id", "n_lines_kept", "n_lines_total",
                      F.md5("text_filtered").alias("filtered_md5"))


def _oracle_line_filter() -> str:
    from flink_ml__spark.functions.curation import LineFilter

    op = LineFilter()
    min_words = op.getOrDefault(op.minWords)
    block = [b.lower() for b in op.getOrDefault(op.blocklist)]
    plant = "".join(f" || chr(10) || '{x}'" for x in _LF_PLANT)
    not_blocked = " AND ".join(
        f"NOT contains(lower(trim(x)), '{b}')" for b in block)
    cond = (f"len(list_filter(string_split_regex(trim(x), '\\s+'), "
            f"w -> w <> '')) >= {min_words} "
            f"AND regexp_matches(trim(x), '[.!?\"]$') AND {not_blocked}")
    return f"""
WITH aug AS (SELECT doc_id, coalesce(text, ''){plant} AS t FROM documents),
sp AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM aug),
f AS (SELECT doc_id,
             list_filter(lines, x -> {cond}) AS kept,
             list_filter(lines, x -> trim(x) <> '') AS ne
      FROM sp)
SELECT doc_id, len(kept)::INT AS n_lines_kept,
       len(ne)::INT AS n_lines_total,
       md5(array_to_string(kept, chr(10))) AS filtered_md5
FROM f
"""


def q_pii_redact_documents(spark, sf_dir):
    """PII scrubbing gate. The synthetic corpus carries no real PII, so
    the gate plants deterministic doc_id-derived emails/IPs/ids/phones
    into the text on BOTH engines and checks counts plus the md5 of the
    redacted output."""
    from flink_ml__spark.functions.text import PiiRedactor

    docs = load_table(spark, "documents", sf_dir)
    aug = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" Contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" ref "),
            (F.col("doc_id") * 1000003 + 123456789).cast("string"),
            F.lit(" call +1 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
    out = PiiRedactor().transform(aug)
    return out.select("doc_id", "n_pii_emails", "n_pii_ips", "n_pii_ids",
                      "n_pii_phones",
                      F.md5("text_redacted").alias("redacted_md5"))


def _oracle_pii_redact() -> str:
    from flink_ml__spark.functions.text import PiiRedactor

    steps = []
    prev = "t0"
    for i, (pat, tok, name) in enumerate(PiiRedactor.PATTERNS, start=1):
        steps.append(
            f"len(regexp_extract_all({prev}, '{pat}')) AS n_pii_{name},\n"
            f"       regexp_replace({prev}, '{pat}', '{tok}', 'g') AS t{i}")
        prev = f"t{i}"
    sel = ",\n       ".join(steps)
    return f"""
WITH aug AS (
  SELECT doc_id,
         text || ' Contact user' || doc_id || '@example.com or 10.' ||
         (doc_id % 200) || '.0.' || (doc_id % 250) || ' ref ' ||
         (doc_id * 1000003 + 123456789) || ' call +1 415-555-' ||
         lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t0
  FROM documents),
red AS (
  SELECT doc_id,
       {sel}
  FROM aug)
SELECT doc_id, n_pii_emails, n_pii_ips, n_pii_ids, n_pii_phones,
       md5(t{len(PiiRedactor.PATTERNS)}) AS redacted_md5
FROM red
"""


def q_line_dedup_documents(spark, sf_dir):
    """Across-corpus line dedup over a planted frame: every document
    gains a global boilerplate footer plus a per-language footer, so
    the corpus-wide removal (keepFirst: smallest doc id survives) is
    exercised whatever the generated corpus looks like."""
    from flink_ml__spark.functions.curation import LineDeduplicator

    docs = load_table(spark, "documents", sf_dir)
    planted = docs.withColumn(
        "text",
        F.concat_ws("\n", F.coalesce(F.col("text"), F.lit("")),
                    F.lit("all rights reserved"),
                    F.concat(F.lit("footer "), F.col("lang"))))
    out = (LineDeduplicator().setDupDocs(2).setKeepFirst(True)
           .transform(planted))
    return out.select("doc_id", "text_line_deduped",
                      "n_lines_kept", "n_lines_total")


ORACLE_LINE_DEDUP = """
WITH base AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10) || 'all rights reserved' ||
         chr(10) || 'footer ' || lang AS text
  FROM documents),
ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM base),
lines AS (
  SELECT doc_id, i - 1 AS idx, arr[i] AS ln
  FROM ls, unnest(range(1, len(arr) + 1)) AS r(i)
  WHERE trim(arr[i]) <> ''),
keyed AS (SELECT doc_id, idx, ln, md5(trim(ln)) AS k FROM lines),
perdoc AS (SELECT k, doc_id, min(idx) AS minidx
           FROM keyed GROUP BY k, doc_id),
freq AS (SELECT k, count(*) AS dfreq, min(doc_id) AS fdoc,
                arg_min(minidx, doc_id) AS fidx
         FROM perdoc GROUP BY k),
kept AS (SELECT l.doc_id, l.idx, l.ln
         FROM keyed l JOIN freq f ON l.k = f.k
         WHERE f.dfreq < 2 OR (l.doc_id = f.fdoc AND l.idx = f.fidx)),
agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS txt,
               count(*) AS n_lines_kept
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_lines_total
        FROM keyed GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.txt, '') AS text_line_deduped,
       coalesce(a.n_lines_kept, 0) AS n_lines_kept,
       coalesce(t.n_lines_total, 0) AS n_lines_total
FROM documents d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN tot t USING (doc_id)
"""


def q_unigram_logprob_documents(spark, sf_dir):
    """CCNet-style unigram-LM fluency scoring, self-fit on the corpus
    with a capped vocab so out-of-vocabulary handling is exercised."""
    from flink_ml__spark.functions.curation import UnigramLM

    docs = load_table(spark, "documents", sf_dir)
    model = UnigramLM().setMaxVocab(2000).fit(docs)
    out = model.transform(docs)
    return out.select("doc_id",
                      _fq("mean_logprob").alias("mean_logprob"),
                      _fq("oov_frac").alias("oov_frac"))


ORACLE_UNIGRAM = f"""
WITH toks AS (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents),
counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS n FROM counts),
vocab AS (SELECT tok, ln(cnt / (SELECT n FROM tot)) AS logp
          FROM counts ORDER BY cnt DESC, tok ASC LIMIT 2000),
sc AS (SELECT t.doc_id,
              avg(coalesce(v.logp, ln(1.0 / (SELECT n FROM tot)))) AS mlp,
              avg((v.logp IS NULL)::INT) AS oov
       FROM toks t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY t.doc_id)
SELECT d.doc_id, floor((sc.mlp) * 1e{R} + 0.5) / 1e{R} AS mean_logprob,
       floor((sc.oov) * 1e{R} + 0.5) / 1e{R} AS oov_frac
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


def q_ppl_bucket_documents(spark, sf_dir):
    """CCNet head/middle/tail partitioning on the self-fit unigram-LM
    fluency score (thirds by corpus percentile)."""
    from flink_ml__spark.functions.curation import PerplexityBucketer, UnigramLM

    docs = load_table(spark, "documents", sf_dir)
    model = UnigramLM().setMaxVocab(2000).fit(docs)
    out = PerplexityBucketer().transform(model.transform(docs))
    return out.select("doc_id",
                      _fq("mean_logprob").alias("mean_logprob"),
                      "ppl_bucket")


def _oracle_ppl_bucket() -> str:
    hf = tf = 1 / 3
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents),
counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS n FROM counts),
vocab AS (SELECT tok, ln(cnt / (SELECT n FROM tot)) AS logp
          FROM counts ORDER BY cnt DESC, tok ASC LIMIT 2000),
sc AS (SELECT t.doc_id,
              avg(coalesce(v.logp, ln(1.0 / (SELECT n FROM tot)))) AS mlp
       FROM toks t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY t.doc_id),
r AS (SELECT d.doc_id, floor((sc.mlp) * 1e6 + 0.5) / 1e6 AS s
      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
th AS (SELECT quantile_cont(s, {1.0 - hf!r}) AS t1,
              quantile_cont(s, {tf!r}) AS t2 FROM r)
SELECT r.doc_id, r.s AS mean_logprob,
       CASE WHEN r.s IS NULL THEN NULL
            WHEN r.s >= th.t1 THEN 'head'
            WHEN r.s <= th.t2 THEN 'tail'
            ELSE 'middle' END AS ppl_bucket
FROM r, th
"""


def q_dsir_weights_documents(spark, sf_dir):
    """DSIR importance weighting: score every document by how
    English-like its hashed-bigram distribution is (target = the
    corpus's lang='en' slice, raw = the whole corpus)."""
    from flink_ml__spark.functions.curation import DSIRSelector

    docs = load_table(spark, "documents", sf_dir)
    sel = DSIRSelector().setNumBuckets(512)
    model = sel.fit(docs.filter(F.col("lang") == "en"), docs)
    return (model.transform(docs)
            .select("doc_id",
                    _fq("dsir_logweight").alias("dsir_logweight")))


def _oracle_dsir() -> str:
    nb = 512
    bigrams = ("list_transform(range(1, len(toks)), "
               "i -> array_to_string(list_slice(toks, i, i + 1), ' '))")
    return f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
big AS (SELECT doc_id, unnest({bigrams}) AS bg
        FROM toks WHERE len(toks) >= 2),
feat AS (SELECT doc_id, {_H60.format(x='bg')} % {nb} AS bk FROM big),
tgt AS (SELECT bk, count(*) AS c FROM feat JOIN documents USING (doc_id)
        WHERE lang = 'en' GROUP BY bk),
rawc AS (SELECT bk, count(*) AS c FROM feat GROUP BY bk),
tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM tgt) + {nb}.0 AS tt,
               (SELECT coalesce(sum(c), 0) FROM rawc) + {nb}.0 AS tr),
ratio AS (SELECT x.r AS bk,
                 ln((coalesce(t.c, 0) + 1.0) / (SELECT tt FROM tot))
               - ln((coalesce(w.c, 0) + 1.0) / (SELECT tr FROM tot)) AS lr
          FROM range(0, {nb}) x(r)
          LEFT JOIN tgt t ON t.bk = x.r
          LEFT JOIN rawc w ON w.bk = x.r),
lw AS (SELECT f.doc_id, sum(ratio.lr) AS lw
       FROM feat f JOIN ratio ON f.bk = ratio.bk GROUP BY f.doc_id)
SELECT d.doc_id, floor((lw.lw) * 1e{R} + 0.5) / 1e{R} AS dsir_logweight
FROM documents d LEFT JOIN lw ON d.doc_id = lw.doc_id
"""


def q_corpus_profile_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import CorpusProfiler

    docs = load_table(spark, "documents", sf_dir)
    out = (CorpusProfiler().setGroupCols("lang", "source")
           .setValueCol("n_chars").transform(docs))
    return out.select(
        "lang", "source", "n_docs", "total_value",
        _fq("mean_value").alias("mean_value"),
        _fq("p50").alias("p50"),
        _fq("p90").alias("p90"),
        _fq("p99").alias("p99"))


def q_quantile_invariants_documents(spark, sf_dir):
    """Violations-only gate for the profiler's approx-percentile path:
    per (lang, percentile), the GK-sketch value's feasible rank
    interval must cover p within 1/accuracy + 1/n — a broken sketch
    path (wrong accuracy plumbing, wrong column) flips the hash.
    Expected EMPTY. Companion of the exact-percentile
    corpus_profile_documents gate, same contract as the HLL++
    cardinality invariant."""
    from flink_ml__spark.functions.curation import CorpusProfiler

    docs = load_table(spark, "documents", sf_dir)
    rep = (CorpusProfiler().setGroupCols("lang").setValueCol("n_chars")
           .rank_error_report(docs, accuracy=10000))
    return (rep.filter("is_violation")
            .select("lang", "p",
                    _fq("lo_frac").alias("lo_frac"),
                    _fq("hi_frac").alias("hi_frac")))


ORACLE_QUANTILE_INVARIANTS = """
SELECT lang, 0.0::DOUBLE AS p, 0.0::DOUBLE AS lo_frac,
       0.0::DOUBLE AS hi_frac
FROM documents WHERE false
"""


ORACLE_CORPUS_PROFILE = f"""
SELECT lang, source,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_value,
       floor((avg(n_chars)) * 1e{R} + 0.5) / 1e{R} AS mean_value,
       floor((quantile_cont(n_chars, 0.5)) * 1e{R} + 0.5) / 1e{R} AS p50,
       floor((quantile_cont(n_chars, 0.9)) * 1e{R} + 0.5) / 1e{R} AS p90,
       floor((quantile_cont(n_chars, 0.99)) * 1e{R} + 0.5) / 1e{R} AS p99
FROM documents GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# 22-24. multimodal columns (binary payload built deterministically from
# documents.text; decode is the stubbed fake codec — plumbing is real)
# ---------------------------------------------------------------------------

def _payloads(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id",
                       F.encode("text", "UTF-8").alias("payload"))


def q_multimodal_meta_documents(spark, sf_dir):
    from flink_ml__spark.functions.multimodal import BinaryMetadataExtractor

    out = BinaryMetadataExtractor().transform(_payloads(spark, sf_dir))
    return out.select("doc_id", "size_bytes", "content_md5", "format")


# ASCII-expressible subset of the magic table, in operator precedence
# order (binary magics like png/jpeg can never match UTF-8 text)
ORACLE_MULTIMODAL_META = """
SELECT doc_id,
       octet_length(encode(text)) AS size_bytes,
       md5(text) AS content_md5,
       CASE WHEN substring(text, 1, 4) = 'GIF8' THEN 'gif'
            WHEN substring(text, 1, 4) = 'RIFF' THEN 'riff'
            WHEN substring(text, 1, 4) = 'fLaC' THEN 'flac'
            WHEN substring(text, 1, 4) = 'OggS' THEN 'ogg'
            WHEN substring(text, 1, 3) = 'ID3' THEN 'mp3'
            ELSE 'unknown' END AS format
FROM documents
"""


def q_multimodal_image_stats(spark, sf_dir):
    from flink_ml__spark.functions.multimodal import ImageDecoder, ImageStats

    decoded = (ImageDecoder().setHeight(16).setWidth(16)
               .transform(_payloads(spark, sf_dir)))
    out = ImageStats().transform(decoded)
    return out.select("doc_id",
                      _fq("px_mean").alias("px_mean"),
                      _fq("px_std").alias("px_std"),
                      "px_min", "px_max")


# The stub codec's keystream lives in the hex-string domain precisely so
# these oracles exist: block i of a payload is
# sha256(sha256(payload_text) || ':' || i), bytes read as hex pairs.
def _fake_bytes_ctes(n_bytes: int, src: str = "documents") -> str:
    n_blocks = (n_bytes + 31) // 32
    return f"""
fp_seed AS (SELECT doc_id, sha256(text) AS seed FROM {src}),
fp_blk AS (SELECT doc_id, i,
                  sha256(seed || ':' || i::VARCHAR) AS hx
           FROM fp_seed, range(0, {n_blocks}) t(i)),
fp_byte AS (SELECT doc_id, i * 32 + j AS pos,
                   ('0x' || substr(hx, j * 2 + 1, 2))::INT AS b
            FROM fp_blk, range(0, 32) u(j)
            WHERE i * 32 + j < {n_bytes})"""


ORACLE_MULTIMODAL_IMAGE_STATS = f"""
WITH {_fake_bytes_ctes(256)}
SELECT doc_id,
       floor((avg(b)) * 1e{R} + 0.5) / 1e{R} AS px_mean,
       floor((stddev_pop(b)) * 1e{R} + 0.5) / 1e{R} AS px_std,
       min(b)::INT AS px_min,
       max(b)::INT AS px_max
FROM fp_byte GROUP BY doc_id
"""


def q_multimodal_image_resize(spark, sf_dir):
    """Decode 16x16 (stub codec) then nearest-neighbor resize to 5x7 —
    non-divisible targets exercise the index math. Pixel arrays are
    CSV-serialized on both sides (the driver's canonicalizer cannot hash
    array cells)."""
    from flink_ml__spark.functions.multimodal import ImageDecoder, ImageResizer

    decoded = (ImageDecoder().setHeight(16).setWidth(16)
               .transform(_payloads(spark, sf_dir)))
    out = (ImageResizer().setTargetHeight(5).setTargetWidth(7)
           .transform(decoded))
    return out.select(
        "doc_id", "height", "width",
        F.array_join(F.transform("pixels", lambda x: x.cast("string")), ",")
        .alias("pixels"))


# nearest-neighbor sample positions: resized (i, j) reads source pixel
# ((i*16)//5, (j*16)//7), i.e. keystream byte (i*16//5)*16 + (j*16//7)
ORACLE_MULTIMODAL_IMAGE_RESIZE = f"""
WITH {_fake_bytes_ctes(256)},
grid AS (SELECT i, j, (i * 16 // 5) * 16 + (j * 16 // 7) AS pos
         FROM range(0, 5) t(i), range(0, 7) u(j)),
sel AS (SELECT fb.doc_id, g.i, g.j, fb.b
        FROM fp_byte fb JOIN grid g ON fb.pos = g.pos)
SELECT doc_id, 5 AS height, 7 AS width,
       string_agg(b::VARCHAR, ',' ORDER BY i, j) AS pixels
FROM sel GROUP BY doc_id
"""


def q_multimodal_frame_means(spark, sf_dir):
    """FrameSampler gate: every 2nd notional 256-byte frame of the
    payload, stub-decoded to a 64-byte keystream whose mean intensity is
    the per-frame feature — explode-shaped (doc_id, frame_index,
    frame_mean). SQL-replayable because the corpus is ASCII (VARCHAR
    slicing == byte slicing) and the fake codec's keystream lives in the
    hex-string domain."""
    from flink_ml__spark.functions.multimodal import FrameSampler

    out = (FrameSampler().setFrameBytes(256).setStride(2)
           .transform(_payloads(spark, sf_dir)))
    return out.select("doc_id", "frame_index",
                      _fq("frame_mean").alias("frame_mean"))


ORACLE_MULTIMODAL_FRAMES = f"""
WITH fr AS (
  -- constant range bound (DuckDB's range() cannot take a lateral
  -- column); 256 frames * 256 B = 64 KiB >> the corpus's max doc
  SELECT doc_id, i::INT AS frame_index,
         sha256(substring(text, i * 256 + 1, 256)) AS seed
  FROM documents, range(0, 256) t(i)
  WHERE i < greatest(length(text) // 256, 1) AND i % 2 = 0),
blk AS (SELECT doc_id, frame_index,
               sha256(seed || ':' || k::VARCHAR) AS hx
        FROM fr, range(0, 2) u(k)),
byt AS (SELECT doc_id, frame_index,
               ('0x' || substr(hx, j * 2 + 1, 2))::INT AS b
        FROM blk, range(0, 32) v(j))
SELECT doc_id, frame_index, floor((avg(b)) * 1e{R} + 0.5) / 1e{R} AS frame_mean
FROM byt GROUP BY doc_id, frame_index
"""


def q_multimodal_scene_changes(spark, sf_dir):
    """SceneChangeDetector gate: frame-mean deltas over the FrameSampler
    stream, per-video lag window, cut threshold 8.0. 64-byte frames at
    stride 1 (unlike the coarser frame_means gate) so the corpus's short
    documents still yield multi-frame videos and the lag path carries
    real deltas. Exact across engines: each frame mean is a 64-int sum
    divided by a power of two, so deltas are exact 1/64 multiples and
    the threshold comparison cannot flip on float noise."""
    from flink_ml__spark.functions.multimodal import (
        FrameSampler,
        SceneChangeDetector,
    )

    frames = (FrameSampler().setFrameBytes(64).setStride(1)
              .transform(_payloads(spark, sf_dir)))
    out = SceneChangeDetector().setThreshold(8.0).transform(frames)
    return out.select("doc_id", "frame_index",
                      _fq("mean_delta").alias("mean_delta"),
                      "is_scene_change")


ORACLE_MULTIMODAL_SCENES = f"""
WITH fr AS (
  SELECT doc_id, i::INT AS frame_index,
         sha256(substring(text, i * 64 + 1, 64)) AS seed
  FROM documents, range(0, 1024) t(i)
  WHERE i < greatest(length(text) // 64, 1)),
blk AS (SELECT doc_id, frame_index,
               sha256(seed || ':' || k::VARCHAR) AS hx
        FROM fr, range(0, 2) u(k)),
byt AS (SELECT doc_id, frame_index,
               ('0x' || substr(hx, j * 2 + 1, 2))::INT AS b
        FROM blk, range(0, 32) v(j)),
fm AS (SELECT doc_id, frame_index, avg(b) AS m
       FROM byt GROUP BY doc_id, frame_index),
d AS (SELECT doc_id, frame_index,
             abs(m - lag(m) OVER (PARTITION BY doc_id
                                  ORDER BY frame_index)) AS delta
      FROM fm)
SELECT doc_id, frame_index, floor((delta) * 1e{R} + 0.5) / 1e{R} AS mean_delta,
       coalesce(delta > 8.0, TRUE) AS is_scene_change
FROM d
"""


def q_multimodal_audio_features(spark, sf_dir):
    from flink_ml__spark.functions.multimodal import AudioFeatureExtractor

    out = (AudioFeatureExtractor().setSampleCount(512)
           .transform(_payloads(spark, sf_dir)))
    return out.select("doc_id",
                      _fq("rms").alias("rms"),
                      _fq("zcr").alias("zcr"),
                      _fq("peak").alias("peak"))


ORACLE_MULTIMODAL_AUDIO = f"""
WITH {_fake_bytes_ctes(512)},
smp AS (SELECT doc_id, pos, (b - 128.0) / 128.0 AS s FROM fp_byte),
sgn AS (SELECT doc_id, pos, (s < 0)::INT AS sg FROM smp),
chg AS (SELECT doc_id,
               abs(sg - lag(sg) OVER (PARTITION BY doc_id ORDER BY pos))
                 AS ch
        FROM sgn)
SELECT m.doc_id,
       floor((sqrt(avg(s * s))) * 1e{R} + 0.5) / 1e{R} AS rms,
       floor(((SELECT sum(ch)::DOUBLE / 511 FROM chg
              WHERE chg.doc_id = m.doc_id)) * 1e{R} + 0.5) / 1e{R} AS zcr,
       floor((max(abs(s))) * 1e{R} + 0.5) / 1e{R} AS peak
FROM smp m GROUP BY m.doc_id
"""


# ---------------------------------------------------------------------------
# 25-31. corpus-curation operators (functions/curation.py)
# ---------------------------------------------------------------------------

def q_repetition_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import RepetitionScorer

    docs = load_table(spark, "documents", sf_dir)
    # the corpus is single-line → use sentence-level "lines"
    out = RepetitionScorer().setLineSep(r"\.").transform(docs)
    return out.select(
        "doc_id",
        _fq("dup_line_frac").alias("dup_line_frac"),
        _fq("dup_line_char_frac").alias("dup_line_char_frac"),
        _fq("top_word_frac").alias("top_word_frac"),
        _fq("top_bigram_frac").alias("top_bigram_frac"))


ORACLE_REPETITION = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\\.'),
                                    x -> trim(x)), x -> x <> '') AS lines,
         {_TOK_SQL} AS toks
  FROM documents),
bi AS (
  SELECT doc_id, lines, toks,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])
         ELSE [] END AS bigrams
  FROM base),
m AS (
  SELECT doc_id,
         len(lines) AS nl,
         len(list_distinct(lines)) AS dl,
         coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
           AS chars,
         coalesce(list_sum(list_transform(list_distinct(lines),
                                          x -> length(x))), 0) AS dchars,
         len(toks) AS nt,
         CASE WHEN len(toks) > 0 THEN
           list_max(list_transform(list_distinct(toks),
                    x -> len(list_filter(toks, y -> y = x)))) ELSE 0
         END AS topw,
         len(bigrams) AS nb,
         CASE WHEN len(bigrams) > 0 THEN
           list_max(list_transform(list_distinct(bigrams),
                    x -> len(list_filter(bigrams, y -> y = x)))) ELSE 0
         END AS topb
  FROM bi)
SELECT doc_id,
       floor((CASE WHEN nl > 0 THEN (nl - dl)::DOUBLE / nl ELSE 0.0 END) * 1e{R} + 0.5) / 1e{R}
         AS dup_line_frac,
       floor((CASE WHEN chars > 0 THEN (chars - dchars)::DOUBLE / chars
             ELSE 0.0 END) * 1e{R} + 0.5) / 1e{R} AS dup_line_char_frac,
       floor((CASE WHEN nt > 0 THEN topw::DOUBLE / nt ELSE 0.0 END) * 1e{R} + 0.5) / 1e{R}
         AS top_word_frac,
       floor((CASE WHEN nb > 0 THEN topb::DOUBLE / nb ELSE 0.0 END) * 1e{R} + 0.5) / 1e{R}
         AS top_bigram_frac
FROM m
"""

# portable salted 16-bit hash bucket (mirror of curation._hash_bucket16)
_BUCKET16 = "(('0x' || substring(md5('{salt}:' || {x}), 1, 4))::INT)"


def q_split_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import DeterministicSplitter

    docs = load_table(spark, "documents", sf_dir)
    return (DeterministicSplitter().setTrainFrac(0.8).setValFrac(0.1)
            .transform(docs).select("doc_id", "split"))


ORACLE_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_BUCKET16.format(salt='split', x='doc_id')} < {int(0.8 * 65536)}
            THEN 'train'
            WHEN {_BUCKET16.format(salt='split', x='doc_id')}
                 < {int(0.8 * 65536) + int(0.1 * 65536)} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_split_leakage_documents(spark, sf_dir):
    """Cross-split leakage audit: MinHash near-duplicate pairs whose
    endpoints landed in different train/val/test splits — the eval-
    contamination failure mode of hash-splitting a corpus that still
    contains near-duplicates."""
    from flink_ml__spark.functions.curation import (
        DeterministicSplitter,
        SplitLeakageAuditor,
    )

    docs = load_table(spark, "documents", sf_dir)
    labeled = (DeterministicSplitter().setTrainFrac(0.8).setValFrac(0.1)
               .transform(docs))
    pairs = (MinHashDeduplicator().setSeed(42).setThreshold(0.7)
             .duplicate_pairs(docs))
    out = SplitLeakageAuditor().audit(pairs, labeled)
    return out.select("id_keep", "id_dup",
                      _fq("jaccard").alias("jaccard"),
                      "split_keep", "split_dup")


def _oracle_split_leakage() -> str:
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    split_case = f"""CASE
      WHEN {_BUCKET16.format(salt='split', x='doc_id')}
           < {int(0.8 * 65536)} THEN 'train'
      WHEN {_BUCKET16.format(salt='split', x='doc_id')}
           < {int(0.8 * 65536) + int(0.1 * 65536)} THEN 'val'
      ELSE 'test' END"""
    return f"""
WITH {_minhash_dup_ctes(op, "documents")},
vp AS (
  SELECT id_l, id_r,
         len(list_intersect(sh_l, sh_r))::DOUBLE /
         len(list_distinct(list_concat(sh_l, sh_r))) AS jac
  FROM pairs),
sp AS (SELECT doc_id, {split_case} AS split FROM documents)
SELECT vp.id_l AS id_keep, vp.id_r AS id_dup,
       floor((vp.jac) * 1e{R} + 0.5) / 1e{R} AS jaccard,
       sl.split AS split_keep, sr.split AS split_dup
FROM vp
JOIN sp sl ON vp.id_l = sl.doc_id
JOIN sp sr ON vp.id_r = sr.doc_id
WHERE vp.jac >= {op.getThreshold()!r} AND sl.split <> sr.split
"""


def q_contamination_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import ContaminationChecker

    docs = load_table(spark, "documents", sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    out = (ContaminationChecker().setShingleSize(5).setThreshold(0.2)
           .transform_against(docs, benchmark))
    return out.select(
        "doc_id",
        _fq("contaminated_frac").alias("contaminated_frac"),
        "is_contaminated")


ORACLE_CONTAMINATION = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, {_shingle_sql(5)} AS sh FROM toks),
bk AS (SELECT k FROM (SELECT DISTINCT unnest(sh) AS k FROM sh
       WHERE doc_id % 97 = 0) WHERE k <> ''),
ex AS (SELECT doc_id, unnest(sh) AS k FROM sh),
fr AS (SELECT ex.doc_id,
              count(bk.k)::DOUBLE / greatest(count(*), 1) AS frac
       FROM ex LEFT JOIN bk ON ex.k = bk.k GROUP BY ex.doc_id)
SELECT d.doc_id, floor((coalesce(fr.frac, 0.0)) * 1e{R} + 0.5) / 1e{R} AS contaminated_frac,
       coalesce(fr.frac, 0.0) >= 0.2 AS is_contaminated
FROM documents d LEFT JOIN fr ON d.doc_id = fr.doc_id
"""


def q_tfidf_keywords_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import TfIdfKeywords

    docs = load_table(spark, "documents", sf_dir)
    out = TfIdfKeywords().setK(5).transform(docs)
    return out.select("doc_id", "term",
                      _fq("tfidf").alias("tfidf"), "rank")


ORACLE_TFIDF = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
ex AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf * ln(n.n::DOUBLE / dfq.dfq) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
SELECT doc_id, term, floor((tfidf) * 1e{R} + 0.5) / 1e{R} AS tfidf, "rank"
FROM r WHERE "rank" <= 5
"""


def q_dup_clusters_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import DuplicateClusterer

    docs = load_table(spark, "documents", sf_dir)
    pairs = (MinHashDeduplicator().setSeed(42).setThreshold(0.7)
             .duplicate_pairs(docs))
    return DuplicateClusterer().cluster(pairs, nodes=docs)


def _oracle_dup_clusters() -> str:
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    return f"""
WITH RECURSIVE {_minhash_dup_ctes(op, "documents")},
vp AS (
  SELECT id_l, id_r FROM pairs
  WHERE len(list_intersect(sh_l, sh_r))::DOUBLE /
        len(list_distinct(list_concat(sh_l, sh_r))) >= {op.getThreshold()!r}),
ed AS (SELECT id_l AS src, id_r AS dst FROM vp
       UNION SELECT id_r, id_l FROM vp),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, 8-token
    overlap) — 1-4 chunks per corpus document."""
    from flink_ml__spark.functions.curation import DocumentChunker

    docs = load_table(spark, "documents", sf_dir)
    out = (DocumentChunker().setChunkTokens(32).setOverlapTokens(8)
           .transform(docs))
    return out.select("doc_id", "chunk_index", "n_chunks",
                      "chunk_start", "chunk_text")


def _oracle_chunks() -> str:
    ct, ov = 32, 8
    s = ct - ov
    return f"""
WITH toks AS (SELECT doc_id, coalesce({_TOK_SQL}, []) AS toks
              FROM documents),
m AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 0 THEN 0
                  ELSE ((greatest(len(toks) - {ct}, 0) + {s} - 1)
                        // {s}) + 1 END AS nc
      FROM toks)
SELECT doc_id,
       ci::INT AS chunk_index,
       nc::INT AS n_chunks,
       (ci * {s} + 1)::INT AS chunk_start,
       array_to_string(
         list_slice(toks, ci * {s} + 1, ci * {s} + {ct}), ' ')
         AS chunk_text
FROM (SELECT doc_id, toks, nc, unnest(range(0, nc)) AS ci
      FROM m WHERE nc > 0)
"""


def q_cluster_reps_documents(spark, sf_dir):
    """Representative selection: one doc per MinHash duplicate cluster,
    keeping the LONGEST member (ties → smallest id) instead of the
    smallest id."""
    from flink_ml__spark.functions.curation import (
        DuplicateClusterer,
        RepresentativeSelector,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = (MinHashDeduplicator().setSeed(42).setThreshold(0.7)
             .duplicate_pairs(docs))
    clusters = DuplicateClusterer().cluster(pairs, nodes=docs)
    withc = docs.join(clusters, "doc_id")
    reps = RepresentativeSelector().setScoreCol("n_chars").transform(withc)
    return reps.select("doc_id", "cluster_id")


def _oracle_cluster_reps() -> str:
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    return f"""
WITH RECURSIVE {_minhash_dup_ctes(op, "documents")},
vp AS (
  SELECT id_l, id_r FROM pairs
  WHERE len(list_intersect(sh_l, sh_r))::DOUBLE /
        len(list_distinct(list_concat(sh_l, sh_r))) >= {op.getThreshold()!r}),
ed AS (SELECT id_l AS src, id_r AS dst FROM vp
       UNION SELECT id_r, id_l FROM vp),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id),
cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
j AS (SELECT d.doc_id, cl.cluster_id, d.n_chars
      FROM documents d JOIN cl ON d.doc_id = cl.doc_id),
best AS (SELECT cluster_id, max(n_chars) AS bs FROM j GROUP BY cluster_id),
rep AS (SELECT j.cluster_id, min(j.doc_id) AS doc_id
        FROM j JOIN best ON j.cluster_id = best.cluster_id
                        AND j.n_chars = best.bs
        GROUP BY j.cluster_id)
SELECT doc_id, cluster_id FROM rep
"""


def q_pack_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import SequencePacker

    docs = load_table(spark, "documents", sf_dir)
    counted = TokenCounter().transform(docs)
    out = (SequencePacker().setWindowSize(256).setNumShards(16)
           .transform(counted))
    return out.select("doc_id", "shard", "pack_id", "offset")


ORACLE_PACK = f"""
WITH t AS (
  SELECT doc_id,
         coalesce(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')), 0) AS nt,
         {_BUCKET16.format(salt='pack', x='doc_id')} % 16 AS shard
  FROM documents),
c AS (
  SELECT doc_id, shard,
         sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - nt AS begin
  FROM t)
SELECT doc_id, shard, floor(begin / 256)::BIGINT AS pack_id,
       (begin % 256)::BIGINT AS "offset"
FROM c
"""


def q_balance_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import DomainBalancer

    docs = load_table(spark, "documents", sf_dir)
    return (DomainBalancer().setGroupCol("lang").transform(docs)
            .select("doc_id", "lang"))


ORACLE_BALANCE = f"""
WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
st AS (SELECT lang,
              floor(min(cnt) OVER () * 65536 / cnt)::BIGINT AS kb
       FROM counts)
SELECT d.doc_id, d.lang
FROM documents d JOIN st USING (lang)
WHERE {_BUCKET16.format(salt='balance', x='doc_id')} < st.kb
"""

# non-uniform target composition; 'de' deliberately absent → dropped
BAL_TARGETS = {"en": 0.4, "zh": 0.3, "es": 0.2, "fr": 0.1}


def q_balance_targets_documents(spark, sf_dir):
    from flink_ml__spark.functions.curation import DomainBalancer

    docs = load_table(spark, "documents", sf_dir)
    op = DomainBalancer().setGroupCol("lang").setTargets(BAL_TARGETS)
    return op.transform(docs).select("doc_id", "lang")


def _oracle_balance_targets() -> str:
    from flink_ml__spark.functions.curation import DomainBalancer

    # read the NORMALIZED fractions back from the op so the float
    # literals match Spark's bit-for-bit (setTargets divides by the sum)
    norm = (DomainBalancer().setTargets(BAL_TARGETS)).getTargets()
    items = ", ".join(f"('{k}', {v!r})" for k, v in sorted(norm.items()))
    return f"""
WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
tgt AS (SELECT * FROM (VALUES {items}) t(lang, frac)),
st AS (SELECT lang, cnt, frac, min(cnt / frac) OVER () AS nmax
       FROM counts JOIN tgt USING (lang)),
th AS (SELECT lang, floor(frac * nmax * 65536 / cnt)::BIGINT AS kb FROM st)
SELECT d.doc_id, d.lang
FROM documents d JOIN th USING (lang)
WHERE {_BUCKET16.format(salt='balance', x='doc_id')} < th.kb
"""


def q_fuzzy_link_part(spark, sf_dir):
    """Entity resolution on part names: collapse exact duplicates to
    one entity row (min partkey = entity id), then blocked fuzzy
    self-linkage — pairs within 3 Levenshtein edits sharing a first
    token. The oracle replays the blocking join and the edit-distance
    residual exactly (both engines implement classic Levenshtein)."""
    from flink_ml__spark.functions.linkage import FuzzyRecordLinker

    part = load_table(spark, "part", sf_dir)
    ents = part.groupBy("p_name").agg(F.min("p_partkey").alias("ent_id"))
    out = (FuzzyRecordLinker()
           .setInputCol("p_name").setIdCol("ent_id")
           .setMaxDistance(3).setBlocker("first_token")
           .link(ents))
    return out.select("a_id", "b_id", "distance",
                      _fq("similarity", 6).alias("similarity"))


ORACLE_FUZZY_LINK = """
WITH e AS (SELECT min(p_partkey) AS ent_id, p_name AS nm
           FROM part GROUP BY p_name),
p AS (SELECT ent_id, nm, split_part(trim(nm), ' ', 1) AS blk
      FROM e WHERE nm IS NOT NULL)
SELECT a.ent_id AS a_id, b.ent_id AS b_id,
       levenshtein(a.nm, b.nm) AS distance,
       floor((1.0 - levenshtein(a.nm, b.nm)::DOUBLE
             / greatest(length(a.nm), length(b.nm), 1)) * 1e6 + 0.5) / 1e6 AS similarity
FROM p a JOIN p b ON a.blk = b.blk AND a.ent_id < b.ent_id
WHERE levenshtein(a.nm, b.nm) <= 3
"""


# deterministic churn applied to `orders` to exercise the differ: a
# ~7.7% delete slice, a ~14% price update, a ~5.9% re-keyed insert
_DIFF_DEL, _DIFF_UPD, _DIFF_INS, _DIFF_KEYOFF = 13, 7, 17, 10_000_000


def q_snapshot_diff_orders(spark, sf_dir):
    """CDC between `orders` and a deterministically-churned copy:
    one full-outer join classifies every key as insert / delete /
    update with the exact changed-column list; unchanged keys emit
    nothing. The oracle rebuilds the same churned snapshot and
    replays the diff with IS DISTINCT FROM semantics."""
    from flink_ml__spark.functions.linkage import SnapshotDiffer

    o = load_table(spark, "orders", sf_dir)
    k = F.col("o_orderkey")
    new = (o.filter(k % _DIFF_DEL != 3)
            .withColumn("o_totalprice",
                        F.when(k % _DIFF_UPD == 0,
                               F.col("o_totalprice") + 10.0)
                         .otherwise(F.col("o_totalprice")))
           ).unionByName(
        o.filter(k % _DIFF_INS == 0)
         .withColumn("o_orderkey", k + _DIFF_KEYOFF))
    d = SnapshotDiffer().setKeyCols("o_orderkey").diff(o, new)
    return d.select("o_orderkey", "op",
                    F.array_join("changed_cols", ",").alias("changed"))


ORACLE_SNAPSHOT_DIFF = f"""
WITH newt AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % {_DIFF_UPD} = 0
              THEN o_totalprice + 10.0 ELSE o_totalprice END
           AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % {_DIFF_DEL} <> 3
  UNION ALL
  SELECT o_orderkey + {_DIFF_KEYOFF}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % {_DIFF_INS} = 0),
j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              ELSE 'update' END AS op,
         concat_ws(',',
           CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                THEN 'o_custkey' END,
           CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate
                THEN 'o_orderdate' END,
           CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                THEN 'o_orderpriority' END,
           CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'o_totalprice' END) AS changed
  FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey, op,
       CASE WHEN op = 'update' THEN changed ELSE '' END AS changed
FROM j
WHERE op <> 'update' OR changed <> ''
"""


# deterministic dirt injected into `orders` so every expectation rule
# has real violations to count
_EXP_NULL, _EXP_FK, _EXP_NEG, _EXP_ENUM, _EXP_DUP = 101, 97, 89, 83, 79


def q_expectations_orders(spark, sf_dir):
    """Data-quality gate over a deliberately-dirtied `orders`: five
    declarative rules (not-null, unique key, value range, enum regex,
    FK referential integrity) → one violation-count row each. All
    row-local rules run in ONE aggregate pass; the oracle replays the
    dirt and each count in SQL."""
    from flink_ml__spark.functions.linkage import ExpectationValidator

    o = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    k = F.col("o_orderkey")
    dirty = (o
             .withColumn("o_custkey",
                         F.when(k % _EXP_NULL == 5, F.lit(None))
                          .when(k % _EXP_FK == 7,
                                F.col("o_custkey") + 1_000_000)
                          .otherwise(F.col("o_custkey")))
             .withColumn("o_totalprice",
                         F.when(k % _EXP_NEG == 2, -F.col("o_totalprice"))
                          .otherwise(F.col("o_totalprice")))
             .withColumn("o_orderstatus",
                         F.when(k % _EXP_ENUM == 4, F.lit("X"))
                          .otherwise(F.col("o_orderstatus"))))
    dup = dirty.unionByName(o.filter(k % _EXP_DUP == 6))
    return (ExpectationValidator()
            .expect_not_null("custkey_present", "o_custkey")
            .expect_unique("orderkey_unique", "o_orderkey")
            .expect_range("price_sane", "o_totalprice", 0.0, 1e7)
            .expect_regex("status_enum", "o_orderstatus", "^[OFP]$")
            .expect_referential("custkey_fk", "o_custkey",
                                cust, "c_custkey")
            .validate(dup))


ORACLE_EXPECTATIONS = f"""
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_EXP_NULL} = 5 THEN NULL
              WHEN o_orderkey % {_EXP_FK} = 7 THEN o_custkey + 1000000
              ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % {_EXP_ENUM} = 4 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % {_EXP_NEG} = 2 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice
  FROM orders),
u AS (SELECT * FROM dirty
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % {_EXP_DUP} = 6),
rules AS (
  SELECT 'custkey_present' AS rule, 'not_null' AS rule_type,
         (SELECT count(*) FROM u WHERE o_custkey IS NULL)
           AS n_violations
  UNION ALL
  SELECT 'orderkey_unique', 'unique',
         coalesce((SELECT sum(c) FROM (
             SELECT count(*) AS c FROM u GROUP BY o_orderkey
             HAVING count(*) > 1)), 0)
  UNION ALL
  SELECT 'price_sane', 'range',
         (SELECT count(*) FROM u WHERE o_totalprice IS NULL
            OR o_totalprice < 0.0 OR o_totalprice > 1e7)
  UNION ALL
  SELECT 'status_enum', 'regex',
         (SELECT count(*) FROM u WHERE o_orderstatus IS NULL
            OR NOT regexp_matches(o_orderstatus, '^[OFP]$'))
  UNION ALL
  SELECT 'custkey_fk', 'referential',
         (SELECT count(*) FROM u WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN (SELECT c_custkey FROM customer)))
SELECT rule, rule_type, n_violations::BIGINT AS n_violations,
       n_violations = 0 AS passed
FROM rules
"""


# deterministic dirt for the windowed quality monitor on `events`
_MON_NULL, _MON_NEG, _MON_ENUM = 31, 29, 37
_MON_TYPES = "^(click|view|signup|purchase|error)$"
_DAY_US = 86_400_000_000


def q_expectation_monitor_events(spark, sf_dir):
    """Windowed data-quality monitor over a dirtied `events`: per
    1-day event-time window and rule, violation counts + window row
    counts. The SAME code path runs on an unbounded stream (see
    `streaming.stream_expectation_monitor` and its parity test); this
    batch run is the oracle-gated twin."""
    from flink_ml__spark.functions.linkage import ExpectationValidator
    from flink_ml__spark.streaming.online import stream_expectation_monitor

    ev = load_table(spark, "events", sf_dir)
    k = F.col("event_id")
    dirty = (ev
             .withColumn("user_id",
                         F.when(k % _MON_NULL == 4, F.lit(None))
                          .otherwise(F.col("user_id")))
             .withColumn("value",
                         F.when(k % _MON_NEG == 3, -F.col("value"))
                          .otherwise(F.col("value")))
             .withColumn("event_type",
                         F.when(k % _MON_ENUM == 5, F.lit("bogus"))
                          .otherwise(F.col("event_type"))))
    # synthetic user registry: the even ids (deterministic, replayable)
    registry = ev.select(
        (F.col("user_id") - (F.col("user_id") % 2)).alias("uid")).distinct()
    v = (ExpectationValidator()
         .expect_not_null("user_present", "user_id")
         .expect_range("value_pos", "value", 0.0, 1e6)
         .expect_regex("type_enum", "event_type", _MON_TYPES)
         .expect_referential("user_registered", "user_id",
                             registry, "uid"))
    out = stream_expectation_monitor(dirty, "ts", v, window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "rule", "rule_type", "n_violations", "n_rows")


ORACLE_EXPECTATION_MONITOR = f"""
WITH dirty AS (
  SELECT epoch_us(ts) AS t_us,
    CASE WHEN event_id % {_MON_NULL} = 4 THEN NULL
         ELSE user_id END AS user_id,
    CASE WHEN event_id % {_MON_NEG} = 3 THEN -value
         ELSE value END AS value,
    CASE WHEN event_id % {_MON_ENUM} = 5 THEN 'bogus'
         ELSE event_type END AS event_type
  FROM events),
reg AS (SELECT DISTINCT user_id - (user_id % 2) AS uid FROM events),
w AS (SELECT (t_us // {_DAY_US}) * {_DAY_US} AS win_us,
        count(*) AS n_rows,
        sum((user_id IS NULL)::BIGINT) AS v0,
        sum((value IS NULL OR value < 0.0 OR value > 1e6)::BIGINT) AS v1,
        sum((event_type IS NULL OR NOT regexp_matches(event_type,
             '{_MON_TYPES}'))::BIGINT) AS v2,
        sum((user_id IS NOT NULL
             AND user_id NOT IN (SELECT uid FROM reg))::BIGINT) AS v3
      FROM dirty GROUP BY 1)
SELECT win_us, r.rule, r.rule_type,
       CASE r.i WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                ELSE v3 END::BIGINT AS n_violations,
       n_rows
FROM w CROSS JOIN (VALUES (0, 'user_present', 'not_null'),
                          (1, 'value_pos', 'range'),
                          (2, 'type_enum', 'regex'),
                          (3, 'user_registered', 'referential'))
     AS r(i, rule, rule_type)
"""


def q_markup_strip_documents(spark, sf_dir):
    """Markup scrub over documents with planted HTML (tags, a script
    element with droppable content, comments, escaped entities) — the
    oracle replays every sequential regex pass and the literal entity
    unescapes. NULL-propagating concat keeps NULL docs NULL on both
    sides."""
    from flink_ml__spark.functions.text import MarkupStripper

    docs = load_table(spark, "documents", sf_dir)
    m = F.col("doc_id") % 4
    planted = (F.when(m == 0, F.concat(F.lit("<p>"), F.col("text"),
                                       F.lit("</p><script>var x=1;"
                                             "</script>")))
                .when(m == 1, F.concat(F.lit('<div class="a">'),
                                       F.col("text"),
                                       F.lit("</div><!-- note -->")))
                .when(m == 2, F.concat(F.col("text"),
                                       F.lit(" &amp; &lt;b&gt;&nbsp;x")))
                .otherwise(F.col("text")))
    out = (MarkupStripper()
           .transform(docs.withColumn("text", planted)))
    return out.select("doc_id", "text_clean", "n_tags_removed")


ORACLE_MARKUP_STRIP = r"""
WITH planted AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN '<p>' || text
                       || '</p><script>var x=1;</script>'
           WHEN 1 THEN '<div class="a">' || text
                       || '</div><!-- note -->'
           WHEN 2 THEN text || ' &amp; &lt;b&gt;&nbsp;x'
           ELSE text END AS text
  FROM documents),
s AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(text,
          '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
          '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g') AS detagged
      FROM planted),
c AS (SELECT doc_id, detagged,
        CASE WHEN detagged IS NULL THEN 0
             ELSE len(regexp_extract_all(detagged, '<[^>]*>')) END
          AS n_tags_removed
      FROM s)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           regexp_replace(detagged, '<[^>]*>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
         '[ \t\n\r\f]+', ' ', 'g')) AS text_clean,
       n_tags_removed
FROM c
"""


def q_script_profile_documents(spark, sf_dir):
    """Unicode-script composition with planted CJK / Cyrillic / Arabic
    / digit suffixes; the oracle replays every class count and the
    dominant-label arbitration (ties to latin-first order)."""
    from flink_ml__spark.functions.text import ScriptProfiler

    docs = load_table(spark, "documents", sf_dir)
    m = F.col("doc_id") % 5
    planted = (F.when(m == 0, F.concat(F.col("text"),
                                       F.lit(" 漢字テキストの例です")))
                .when(m == 1, F.concat(F.col("text"),
                                       F.lit(" русский текст пример "
                                             "русский текст")))
                .when(m == 2, F.concat(F.col("text"),
                                       F.lit(" نص عربي قصير")))
                .when((m == 3) & (F.col("doc_id") % 2 == 1),
                      F.lit("12345 67890"))       # pure digit → NULL
                .when(m == 3, F.lit("12345 67890 !!!"))  # → 'other'
                .otherwise(F.col("text")))
    out = ScriptProfiler().transform(docs.withColumn("text", planted))
    sel = [_fq(f"{n}_frac", 6).alias(f"{n}_frac")
           for n in ["latin", "cyrillic", "cjk", "arabic", "digit",
                     "other"]]
    return out.select("doc_id", *sel, "dominant")


_SCRIPT_CLASSES_RE2 = [
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("digit", "[0-9]"),
]

ORACLE_SCRIPT_PROFILE = r"""
WITH planted AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN text || ' 漢字テキストの例です'
           WHEN 1 THEN text || ' русский текст пример русский текст'
           WHEN 2 THEN text || ' نص عربي قصير'
           WHEN 3 THEN CASE WHEN doc_id % 2 = 1 THEN '12345 67890'
                            ELSE '12345 67890 !!!' END
           ELSE text END AS text
  FROM documents),
n AS (SELECT doc_id,
        len(regexp_extract_all(coalesce(text, ''),
            '[^ \t\n\r\f]'))::DOUBLE AS base,
        {counts}
      FROM planted),
f AS (SELECT doc_id, base,
        {fracs},
        CASE WHEN base > 0 THEN greatest(0.0,
          1.0 - (n_latin + n_cyrillic + n_cjk + n_arabic
                 + n_digit) / base) ELSE 0.0 END AS other_frac
      FROM n),
d AS (SELECT *,
        greatest(latin_frac, cyrillic_frac, cjk_frac, arabic_frac,
                 other_frac) AS best
      FROM f)
SELECT doc_id,
       floor((latin_frac) * 1e6 + 0.5) / 1e6 AS latin_frac,
       floor((cyrillic_frac) * 1e6 + 0.5) / 1e6 AS cyrillic_frac,
       floor((cjk_frac) * 1e6 + 0.5) / 1e6 AS cjk_frac,
       floor((arabic_frac) * 1e6 + 0.5) / 1e6 AS arabic_frac,
       floor((digit_frac) * 1e6 + 0.5) / 1e6 AS digit_frac,
       floor((other_frac) * 1e6 + 0.5) / 1e6 AS other_frac,
       CASE WHEN base = 0 THEN NULL
            WHEN best = 0 THEN NULL
            WHEN latin_frac = best THEN 'latin'
            WHEN cyrillic_frac = best THEN 'cyrillic'
            WHEN cjk_frac = best THEN 'cjk'
            WHEN arabic_frac = best THEN 'arabic'
            ELSE 'other' END AS dominant
FROM d
""".format(
    counts=",\n        ".join(
        f"len(regexp_extract_all(coalesce(text, ''), "
        f"'{pat}'))::DOUBLE AS n_{name}"
        for name, pat in _SCRIPT_CLASSES_RE2),
    fracs=",\n        ".join(
        f"CASE WHEN base > 0 THEN n_{name} / base ELSE 0.0 END "
        f"AS {name}_frac"
        for name, _ in _SCRIPT_CLASSES_RE2))


def q_compression_invariants_documents(spark, sf_dir):
    """Violations-only gate for the zlib redundancy signal: docs
    planted with pure repetition must compress below 0.2 (measured
    0.064 — 3× margin) and ordinary corpus docs must stay above 0.3
    (corpus minimum 0.382 across SFs). Expected EMPTY; a wrong ratio,
    a NULL mix-up, or nondeterministic compression flips the hash."""
    from flink_ml__spark.functions.curation import CompressionScorer

    docs = load_table(spark, "documents", sf_dir)
    m = F.col("doc_id") % 7
    planted = (F.when(m == 0, F.lit(("spam " * 50).strip()))
                .otherwise(F.col("text")))
    scored = (CompressionScorer()
              .transform(docs.withColumn("text", planted)))
    viol = scored.filter(
        ((m == 0) & (F.col("compress_ratio") > 0.2))
        | ((m != 0) & F.col("text").isNotNull()
           & (F.length("text") > 0) & (F.col("compress_ratio") < 0.3))
        | (F.col("text").isNotNull() & (F.length("text") > 0)
           & F.col("compress_ratio").isNull()))
    return viol.select("doc_id",
                       _fq("compress_ratio", 6)
                       .alias("compress_ratio"))


ORACLE_COMPRESSION_INVARIANTS = """
SELECT doc_id, 0.0 AS compress_ratio FROM documents WHERE false
"""


def q_bpe_tokenize_documents(spark, sf_dir):
    """Self-consistency gate for the BPE tokenizer (merge learning
    has no SQL oracle): fit on the corpus, encode every document, and
    emit each doc whose token stream does NOT detokenize back to its
    normalized word sequence (or whose count column disagrees with
    the token array). Expected EMPTY — a wrong merge application,
    boundary bug, or count drift flips the hash."""
    from flink_ml__spark.functions.text import TOKEN_SPLIT
    from flink_ml__spark.functions.tokenizer import EOW, BpeTokenizer

    docs = load_table(spark, "documents", sf_dir)
    model = BpeTokenizer().setNumMerges(100).fit(docs)
    out = model.transform(docs)
    norm = F.concat_ws(" ", F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                TOKEN_SPLIT), lambda x: x != ""))
    rejoin = F.trim(F.replace(F.array_join("bpe_tokens", ""),
                              F.lit(EOW), F.lit(" ")))
    viol = out.filter((rejoin != norm)
                      | (F.col("n_bpe_tokens") != F.size("bpe_tokens")))
    return viol.select("doc_id", "n_bpe_tokens")


ORACLE_BPE_TOKENIZE = """
SELECT doc_id, 0 AS n_bpe_tokens FROM documents WHERE false
"""


_PHRASES = ["key agg", "fast table", "value part hash", "zebra quux"]


def q_phrase_match_documents(spark, sf_dir):
    """Dictionary phrase scan: word-boundary token-sequence matches
    of a fixed phrase list over the corpus. The oracle replays the
    normalization, the substring residual and the non-overlapping
    count arithmetic phrase by phrase (its cross join is semantically
    identical to the engine's first-token candidate join — the join
    is the scale optimization, not a semantics change)."""
    from flink_ml__spark.functions.text import PhraseMatcher

    docs = load_table(spark, "documents", sf_dir)
    return (PhraseMatcher().setPhrases(_PHRASES).match(docs)
            .select("doc_id", "phrase", "n_occurrences"))


def _oracle_phrase_match() -> str:
    import re as _re

    from flink_ml__spark.functions.text import TOKEN_SPLIT

    vals = []
    for p in _PHRASES:
        toks = [t for t in _re.split(TOKEN_SPLIT, p.lower()) if t]
        needle = " " + " ".join(toks) + " "
        vals.append(f"('{p}', '{needle}')")
    return f"""
WITH ph(phrase, needle) AS (VALUES {', '.join(vals)}),
d AS (SELECT doc_id,
        ' ' || array_to_string(list_filter(
            string_split_regex(lower(text), '[^a-zA-Z0-9'']+'),
            t -> t <> ''), ' ') || ' ' AS norm
      FROM documents WHERE text IS NOT NULL),
hits AS (SELECT doc_id, phrase,
           ((length(norm) - length(replace(norm, needle, ' ')))
            / (length(needle) - 1))::INT AS n_occurrences
         FROM d CROSS JOIN ph)
SELECT doc_id, phrase, n_occurrences FROM hits WHERE n_occurrences > 0
"""


_DRIFT_K = 10


def q_drift_report_orders(spark, sf_dir):
    """PSI drift report: even-key orders are the reference snapshot,
    odd-key orders with a deterministic +10% price perturbation on a
    third of rows are the current one. The oracle replays the exact
    reference quantile edges (quantile_cont == Spark's exact
    `percentile`, the Winsorizer-proven pairing), the >=-edge bucket
    assignment, floored proportions and each PSI term."""
    from flink_ml__spark.functions.drift import DriftMonitor

    o = load_table(spark, "orders", sf_dir)
    k = F.col("o_orderkey")
    ref = o.filter(k % 2 == 0)
    cur = (o.filter(k % 2 == 1)
            .withColumn("o_totalprice",
                        F.when(k % 3 == 0, F.col("o_totalprice") * 1.1)
                         .otherwise(F.col("o_totalprice"))))
    rep = (DriftMonitor().setInputCols("o_totalprice")
           .setNumBuckets(_DRIFT_K).report(ref, cur))
    return rep.select("column", "bucket", "n_ref", "n_cur",
                      _fq("p_ref", 6).alias("p_ref"),
                      _fq("p_cur", 6).alias("p_cur"),
                      _fq("psi_term", 6).alias("psi_term"))


def _oracle_drift() -> str:
    k = _DRIFT_K
    pcts = ", ".join(repr(i / k) for i in range(1, k))
    bucket = " + ".join(
        f"(CASE WHEN v >= e[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, k))
    return f"""
WITH refr AS (SELECT o_totalprice AS v FROM orders
              WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL),
curr AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                     ELSE o_totalprice END AS v
         FROM orders
         WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL),
q AS (SELECT quantile_cont(v, [{pcts}]) AS e FROM refr),
rb AS (SELECT ({bucket}) AS bucket FROM refr CROSS JOIN q),
cb AS (SELECT ({bucket}) AS bucket FROM curr CROSS JOIN q),
buckets AS (SELECT unnest(generate_series(0, {k - 1})) AS bucket),
h AS (SELECT b.bucket,
        coalesce(r.n, 0) AS n_ref, coalesce(c.n, 0) AS n_cur
      FROM buckets b
      LEFT JOIN (SELECT bucket, count(*) AS n FROM rb GROUP BY 1) r
        ON b.bucket = r.bucket
      LEFT JOIN (SELECT bucket, count(*) AS n FROM cb GROUP BY 1) c
        ON b.bucket = c.bucket),
p AS (SELECT bucket, n_ref, n_cur,
        greatest(n_ref::DOUBLE / sum(n_ref) OVER (), 1e-6) AS p_ref,
        greatest(n_cur::DOUBLE / sum(n_cur) OVER (), 1e-6) AS p_cur
      FROM h)
SELECT 'o_totalprice' AS "column", bucket, n_ref, n_cur,
       floor((p_ref) * 1e6 + 0.5) / 1e6 AS p_ref, floor((p_cur) * 1e6 + 0.5) / 1e6 AS p_cur,
       floor(((p_cur - p_ref) * ln(p_cur / p_ref)) * 1e6 + 0.5) / 1e6 AS psi_term
FROM p
"""


def q_ranking_eval_documents(spark, sf_dir):
    """Retrieval-quality evaluation: BM25 top-10 rankings (same
    queries as `bm25_retrieval_documents`) scored against
    deterministic binary qrels — a document is relevant to a query
    iff it OPENS with the query's first two tokens, which keeps the
    qrels benchmark-sized (first-TOKEN membership made them
    corpus-sized: 670k pairs at sf0.1 and a measured 40× blowup at
    10×). The oracle replays the full BM25 ranking, the qrels join
    and every metric's arithmetic (precision/recall@k, MRR, binary
    nDCG with sequence-folded ideal DCG)."""
    from flink_ml__spark.functions.retrieval import (
        BM25Retriever,
        RankingEvaluator,
    )
    from flink_ml__spark.functions.text import TOKEN_SPLIT

    docs = load_table(spark, "documents", sf_dir)
    toks = F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))),
                            TOKEN_SPLIT), lambda t: t != "")
    queries = (docs.filter(F.col("doc_id") % 29 == 0)
               .select(F.col("doc_id").alias("query_id"),
                       F.array_join(F.slice(toks, 1, 6), " ")
                       .alias("query_text"),
                       F.element_at(toks, 1).alias("__q1"),
                       F.element_at(toks, 2).alias("__q2")))
    ranking = BM25Retriever().setTopK(10).retrieve(
        docs, queries.select("query_id", "query_text"))
    doc_heads = docs.select(
        "doc_id", F.element_at(toks, 1).alias("__d1"),
        F.element_at(toks, 2).alias("__d2"))
    qrels = (queries.select("query_id", "__q1", "__q2")
             .join(doc_heads, (F.col("__q1") == F.col("__d1"))
                   & (F.col("__q2") == F.col("__d2")))
             .select("query_id", "doc_id"))
    out = RankingEvaluator().setK(10).evaluate(ranking, qrels)
    return out.select(
        "query_id", "n_rel", "hits",
        _fq("precision_at_k").alias("precision_at_k"),
        _fq("recall_at_k").alias("recall_at_k"),
        _fq("mrr").alias("mrr"),
        _fq("ndcg_at_k").alias("ndcg_at_k"))


ORACLE_RANKING_EVAL = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
       GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
             (SELECT sum(tf) FROM tf)::DOUBLE
             / (SELECT count(*) FROM documents) AS avgdl),
q AS (SELECT doc_id AS query_id,
             unnest(list_distinct(toks[1:6])) AS term
      FROM toks WHERE doc_id % 29 = 0),
m AS (SELECT q.query_id, tf.doc_id,
             ln(1 + (c.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl)) AS s
      FROM q JOIN tf USING (term) JOIN dfq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN c),
sc AS (SELECT query_id, doc_id, sum(s) AS score FROM m GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY floor(score * 1e9 + 0.5)::BIGINT DESC, doc_id ASC) AS "rank"
      FROM sc),
tk AS (SELECT query_id, doc_id, "rank" FROM r WHERE "rank" <= 10),
q0 AS (SELECT doc_id AS query_id, toks[1] AS q1, toks[2] AS q2
       FROM toks WHERE doc_id % 29 = 0),
qr AS (SELECT q0.query_id, t.doc_id
       FROM q0 JOIN toks t
         ON t.toks[1] = q0.q1 AND t.toks[2] = q0.q2),
nrel AS (SELECT query_id, count(*) AS n_rel FROM qr GROUP BY 1),
j AS (SELECT tk.query_id, tk."rank",
             CASE WHEN qr.doc_id IS NULL THEN 0 ELSE 1 END AS rel
      FROM tk LEFT JOIN qr
        ON tk.query_id = qr.query_id AND tk.doc_id = qr.doc_id),
pq AS (SELECT query_id, sum(rel)::BIGINT AS hits,
              min(CASE WHEN rel = 1 THEN "rank" END) AS frr,
              sum(CASE WHEN rel = 1
                       THEN 1.0 / log2("rank" + 1) END) AS dcg
       FROM j GROUP BY 1),
f AS (SELECT pq.query_id, coalesce(nrel.n_rel, 0) AS n_rel, hits,
             frr, dcg,
             list_sum(list_transform(
               generate_series(1, least(10, coalesce(nrel.n_rel, 0))),
               i -> 1.0 / log2(i + 1))) AS idcg
      FROM pq LEFT JOIN nrel ON pq.query_id = nrel.query_id)
SELECT query_id, n_rel, hits,
       floor((hits / 10.0) * 1e{R} + 0.5) / 1e{R} AS precision_at_k,
       floor((CASE WHEN n_rel > 0 THEN hits::DOUBLE / n_rel END) * 1e{R} + 0.5) / 1e{R}
         AS recall_at_k,
       floor((coalesce(1.0 / frr, 0.0)) * 1e{R} + 0.5) / 1e{R} AS mrr,
       floor((CASE WHEN n_rel > 0
                  THEN coalesce(dcg, 0.0) / idcg END) * 1e{R} + 0.5) / 1e{R}
         AS ndcg_at_k
FROM f
"""


_EVAL_BINS = 512


def q_classification_eval_documents(spark, sf_dir):
    """Binary-classification metrics for a deterministic signal: the
    heuristic quality score as the classifier, lang=='en' as the
    label (the two are weakly related, so AUC sits meaningfully
    between 0.5 and 1 instead of saturating). Scores are rounded to 6
    decimals BEFORE bucketing so both engines bin identical doubles;
    the oracle replays the quality formula, the binned tie-aware AUC
    rank-sum and the thresholded confusion arithmetic."""
    from flink_ml__spark.functions.evaluation import (
        BinaryClassificationEvaluator,
    )
    from flink_ml__spark.functions.text import QualityScorer

    docs = load_table(spark, "documents", sf_dir)
    scored = (QualityScorer().transform(docs)
              .select((F.col("lang") == "en").cast("int").alias("label"),
                      _fq("quality_score", 6).alias("score")))
    out = (BinaryClassificationEvaluator().setNumBins(_EVAL_BINS)
           .evaluate(scored))
    return out.select(
        "n_pos", "n_neg",
        _fq("auc").alias("auc"),
        _fq("accuracy").alias("accuracy"),
        _fq("precision").alias("precision"),
        _fq("recall").alias("recall"),
        _fq("f1").alias("f1"))


ORACLE_CLASSIFICATION_EVAL = f"""
WITH t AS (
  SELECT doc_id, lang,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(text),
             '[^a-zA-Z0-9'']+'), x -> x <> '')) AS n_tokens_q,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '',
             'g')) AS punct,
         len(list_intersect(
             list_distinct(list_filter(string_split_regex(lower(text),
                 '[^a-zA-Z0-9'']+'), x -> x <> '')),
             [{', '.join(repr(w) for w in LANG_PROFILES['en'])}]))
           AS stop
  FROM documents),
m AS (
  SELECT lang,
         least(n_tokens_q / 20.0, 1.0) * 0.3
         + (alpha::DOUBLE / greatest(n_chars, 1)) * 0.4
         + least((stop::DOUBLE / greatest(n_tokens_q, 1)) * 5.0, 1.0)
           * 0.2
         + (1 - least((punct::DOUBLE / greatest(n_chars, 1)) * 10.0,
                      1.0)) * 0.1 AS qs
  FROM t),
s AS (SELECT (lang = 'en')::INT AS y, floor((qs) * 1e6 + 0.5) / 1e6 AS sv
      FROM m WHERE lang IS NOT NULL AND qs IS NOT NULL),
g AS (SELECT least(floor(greatest(least(sv, 1.0), 0.0)
                         * {_EVAL_BINS})::INT, {_EVAL_BINS - 1}) AS bkt,
             sum(y) AS pos, count(*) - sum(y) AS neg
      FROM s GROUP BY 1),
c AS (SELECT bkt, pos, neg,
             coalesce(sum(neg) OVER (ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumneg
      FROM g),
tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM g),
a AS (SELECT sum(cumneg * pos + 0.5 * neg * pos)
             / ((SELECT p FROM tot) * (SELECT n FROM tot)) AS auc
      FROM c),
conf AS (SELECT
    sum(CASE WHEN sv >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN sv >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN sv < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS fn,
    sum(CASE WHEN sv < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS tn
  FROM s)
SELECT (SELECT p FROM tot)::BIGINT AS n_pos,
       (SELECT n FROM tot)::BIGINT AS n_neg,
       floor(((SELECT auc FROM a)) * 1e{R} + 0.5) / 1e{R} AS auc,
       floor(((tp + tn)::DOUBLE / (tp + fp + fn + tn)) * 1e{R} + 0.5) / 1e{R} AS accuracy,
       floor((CASE WHEN tp + fp > 0
                  THEN tp::DOUBLE / (tp + fp) END) * 1e{R} + 0.5) / 1e{R} AS precision,
       floor((CASE WHEN tp + fn > 0
                  THEN tp::DOUBLE / (tp + fn) END) * 1e{R} + 0.5) / 1e{R} AS recall,
       floor((CASE WHEN tp + fp > 0 AND tp + fn > 0
                   AND tp::DOUBLE / (tp + fp)
                       + tp::DOUBLE / (tp + fn) > 0
                  THEN 2 * (tp::DOUBLE / (tp + fp))
                       * (tp::DOUBLE / (tp + fn))
                       / (tp::DOUBLE / (tp + fp)
                          + tp::DOUBLE / (tp + fn)) END) * 1e{R} + 0.5) / 1e{R} AS f1
FROM conf
"""


def q_categorical_drift_events(spark, sf_dir):
    """Categorical PSI drift on event_type between the even- and
    odd-id halves of `events`, with planted category churn in the
    current side: some views become a brand-new 'scroll' type (lands
    in __other__ — the schema-drift signal) and some clicks remap to
    views (frequency shift). The oracle replays the reference
    vocabulary cut, the __other__ mapping, floored proportions and
    every PSI term."""
    from flink_ml__spark.functions.drift import CategoricalDriftMonitor

    ev = load_table(spark, "events", sf_dir)
    k = F.col("event_id")
    ref = ev.filter(k % 2 == 0)
    cur = (ev.filter(k % 2 == 1)
           .withColumn("event_type",
                       F.when((k % 5 == 0)
                              & (F.col("event_type") == "view"),
                              F.lit("scroll"))
                        .when((k % 7 == 0)
                              & (F.col("event_type") == "click"),
                              F.lit("view"))
                        .otherwise(F.col("event_type"))))
    rep = (CategoricalDriftMonitor().setInputCols("event_type")
           .report(ref, cur))
    return rep.select("column", "category", "n_ref", "n_cur",
                      _fq("p_ref").alias("p_ref"),
                      _fq("p_cur").alias("p_cur"),
                      _fq("psi_term").alias("psi_term"))


ORACLE_CATEGORICAL_DRIFT = f"""
WITH ref AS (SELECT coalesce(event_type, '__null__') AS v
             FROM events WHERE event_id % 2 = 0),
cur AS (SELECT coalesce(
          CASE WHEN event_id % 5 = 0 AND event_type = 'view'
               THEN 'scroll'
               WHEN event_id % 7 = 0 AND event_type = 'click'
               THEN 'view'
               ELSE event_type END, '__null__') AS v
        FROM events WHERE event_id % 2 = 1),
rc AS (SELECT v, count(*) AS n FROM ref GROUP BY 1),
vocab AS (SELECT v FROM rc ORDER BY n DESC, v ASC LIMIT 100),
rm AS (SELECT CASE WHEN v IN (SELECT v FROM vocab) THEN v
                   ELSE '__other__' END AS category,
              count(*) AS n_ref
       FROM ref GROUP BY 1),
cm AS (SELECT CASE WHEN v IN (SELECT v FROM vocab) THEN v
                   ELSE '__other__' END AS category,
              count(*) AS n_cur
       FROM cur GROUP BY 1),
j AS (SELECT coalesce(rm.category, cm.category) AS category,
             coalesce(rm.n_ref, 0) AS n_ref,
             coalesce(cm.n_cur, 0) AS n_cur
      FROM rm FULL OUTER JOIN cm ON rm.category = cm.category),
p AS (SELECT category, n_ref, n_cur,
        greatest(n_ref::DOUBLE / sum(n_ref) OVER (), 1e-6) AS p_ref,
        greatest(n_cur::DOUBLE / sum(n_cur) OVER (), 1e-6) AS p_cur
      FROM j)
SELECT 'event_type' AS "column", category, n_ref, n_cur,
       floor((p_ref) * 1e{R} + 0.5) / 1e{R} AS p_ref, floor((p_cur) * 1e{R} + 0.5) / 1e{R} AS p_cur,
       floor(((p_cur - p_ref) * ln(p_cur / p_ref)) * 1e{R} + 0.5) / 1e{R} AS psi_term
FROM p
"""


_WDRIFT_K = 8


def q_drift_monitor_window_events(spark, sf_dir):
    """Windowed PSI drift: per 1-day window, the `value` distribution
    vs the full-table reference, with a deterministic 1.5× scale
    planted on every 7th day (those windows must read 'action', the
    rest near-stable). The SAME code path runs on an unbounded stream
    (`streaming.stream_drift_monitor`, parity-tested); this batch run
    replays edges, per-window bucket counts, reference proportions
    and the PSI fold in SQL."""
    from flink_ml__spark.functions.drift import DriftMonitor
    from flink_ml__spark.streaming.online import stream_drift_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    cur = ev.withColumn("value",
                        F.when(day % 7 == 3, F.col("value") * 1.5)
                         .otherwise(F.col("value")))
    mon = DriftMonitor().setInputCols("value").setNumBuckets(_WDRIFT_K)
    out = stream_drift_monitor(cur, "ts", mon, reference=ev,
                               window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "column", "n_rows",
                      _fq("psi").alias("psi"), "drift_level")


def _oracle_window_drift() -> str:
    k = _WDRIFT_K
    pcts = ", ".join(repr(i / k) for i in range(1, k))
    bucket = " + ".join(
        f"(CASE WHEN v >= e[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, k))
    rbucket = " + ".join(
        f"(CASE WHEN value >= e[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, k))
    return f"""
WITH q AS (SELECT quantile_cont(value, [{pcts}]) AS e
           FROM events WHERE ts IS NOT NULL),
refb AS (SELECT ({rbucket}) AS bucket
         FROM events CROSS JOIN q
         WHERE ts IS NOT NULL AND value IS NOT NULL),
refh AS (SELECT bucket, count(*) AS n FROM refb GROUP BY 1),
rt AS (SELECT sum(n) AS t FROM refh),
spine AS (SELECT unnest(generate_series(0, {k - 1})) AS bucket),
pref AS (SELECT s.bucket,
           greatest(coalesce(r.n, 0)::DOUBLE / (SELECT t FROM rt),
                    1e-6) AS p_ref
         FROM spine s LEFT JOIN refh r ON s.bucket = r.bucket),
cur AS (SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS win_us,
          CASE WHEN (epoch_us(ts) // {_DAY_US}) % 7 = 3
               THEN value * 1.5 ELSE value END AS v
        FROM events WHERE ts IS NOT NULL),
winspine AS (SELECT DISTINCT win_us FROM cur),
cb AS (SELECT win_us, ({bucket}) AS bucket
       FROM cur CROSS JOIN q WHERE v IS NOT NULL),
g AS (SELECT win_us, bucket, count(*) AS n FROM cb GROUP BY 1, 2),
tot AS (SELECT win_us, sum(n) AS t FROM g GROUP BY 1),
cells AS (SELECT w.win_us, s.bucket,
            coalesce(g.n, 0) AS n
          FROM winspine w CROSS JOIN spine s
          LEFT JOIN g ON g.win_us = w.win_us AND g.bucket = s.bucket),
terms AS (SELECT c.win_us,
            (greatest(c.n::DOUBLE / greatest(t.t, 1), 1e-6) - p.p_ref)
            * ln(greatest(c.n::DOUBLE / greatest(t.t, 1), 1e-6)
                 / p.p_ref) AS term,
            t.t
          FROM cells c
          JOIN tot t ON c.win_us = t.win_us
          JOIN pref p ON c.bucket = p.bucket)
SELECT win_us, 'value' AS "column", t::BIGINT AS n_rows,
       floor((sum(term)) * 1e{R} + 0.5) / 1e{R} AS psi,
       CASE WHEN sum(term) < 0.1 THEN 'stable'
            WHEN sum(term) < 0.25 THEN 'moderate'
            ELSE 'action' END AS drift_level
FROM terms GROUP BY win_us, t
"""


def q_triangles_events(spark, sf_dir):
    """Per-node triangle counts + clustering coefficient over the
    derived interaction graph (user_id%97 — event_id%97 edges, treated
    undirected). Spark orients edges by degree for the O(m^1.5) wedge
    join; the oracle orients by id — the triangle SET is orientation-
    independent, so the outputs match exactly."""
    from flink_ml__spark.functions.graph import TriangleCounter

    ev = load_table(spark, "events", sf_dir)
    edges = ev.select((F.col("user_id") % 97).alias("src"),
                      (F.col("event_id") % 97).alias("dst"))
    out = TriangleCounter().transform(edges)
    return out.select("node", "degree", "triangles",
                      _fq("clustering").alias("clustering"))


ORACLE_TRIANGLES = f"""
WITH raw AS (SELECT user_id % 97 AS s, event_id % 97 AS t FROM events
             WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
e AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
      FROM raw WHERE s <> t),
deg AS (SELECT node, count(*)::BIGINT AS degree FROM
        (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY 1),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
tc AS (SELECT node, count(*)::BIGINT AS n FROM
       (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY 1)
SELECT deg.node, deg.degree,
       coalesce(tc.n, 0)::BIGINT AS triangles,
       floor((CASE WHEN deg.degree >= 2
             THEN 2.0 * coalesce(tc.n, 0)
                  / (deg.degree * (deg.degree - 1.0))
             ELSE 0.0 END) * 1e{R} + 0.5) / 1e{R} AS clustering
FROM deg LEFT JOIN tc USING (node)
"""


def q_assoc_lineitem(spark, sf_dir):
    """Chi-square / Cramér's V / mutual information for two column
    pairs in ONE pass (returnflag:linestatus and linestatus:ship-
    year) — structural zeros handled via the Σ o²/e − n identity on
    both sides."""
    from flink_ml__spark.functions.stats import CategoricalAssociation

    li = (load_table(spark, "lineitem", sf_dir)
          .withColumn("ship_year", F.year("l_shipdate")))
    out = (CategoricalAssociation()
           .setPairs("l_returnflag:l_linestatus",
                     "l_linestatus:ship_year")
           .transform(li))
    return out.select("pair", "n", "dx", "dy",
                      _fq("chi2").alias("chi2"), "dof",
                      _fq("cramers_v").alias("cramers_v"),
                      _fq("mutual_info").alias("mutual_info"))


ORACLE_ASSOC = f"""
WITH cells AS (
  SELECT 'l_returnflag:l_linestatus' AS pair,
         l_returnflag::VARCHAR AS x, l_linestatus::VARCHAR AS y,
         count(*)::BIGINT AS n_xy
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT 'l_linestatus:ship_year',
         l_linestatus::VARCHAR, year(l_shipdate)::VARCHAR,
         count(*)::BIGINT
  FROM lineitem
  WHERE l_linestatus IS NOT NULL AND l_shipdate IS NOT NULL
  GROUP BY 1, 2, 3),
aug AS (SELECT pair, x, y, n_xy,
        sum(n_xy) OVER (PARTITION BY pair, x) AS n_x,
        sum(n_xy) OVER (PARTITION BY pair, y) AS n_y,
        sum(n_xy) OVER (PARTITION BY pair) AS n FROM cells),
pp AS (SELECT pair, sum(n_xy)::BIGINT AS n,
       count(DISTINCT x)::INT AS dx, count(DISTINCT y)::INT AS dy,
       greatest(sum(n_xy::DOUBLE * n_xy * n / (n_x::DOUBLE * n_y))
                - sum(n_xy), 0.0) AS chi2,
       sum((n_xy / n::DOUBLE)
           * ln(n_xy::DOUBLE * n / (n_x::DOUBLE * n_y)))
       AS mutual_info
       FROM aug GROUP BY 1)
SELECT pair, n, dx, dy, floor((chi2) * 1e{R} + 0.5) / 1e{R} AS chi2,
       (dx - 1) * (dy - 1) AS dof,
       floor((CASE WHEN n * least(dx - 1, dy - 1) > 0
             THEN sqrt(chi2 / (n * least(dx - 1, dy - 1)))
             ELSE 0.0 END) * 1e{R} + 0.5) / 1e{R} AS cramers_v,
       floor((mutual_info) * 1e{R} + 0.5) / 1e{R} AS mutual_info
FROM pp
"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_matrix_lineitem(spark, sf_dir):
    """All-pairs Pearson correlation over the lineitem measures in
    ONE aggregation (6 streaming co-moment accumulators), exploded to
    pair rows."""
    from flink_ml__spark.functions.stats import CorrelationMatrix

    li = load_table(spark, "lineitem", sf_dir)
    out = CorrelationMatrix().setInputCols(_CORR_COLS).transform(li)
    return out.select("col_x", "col_y", "n",
                      _fq("corr").alias("corr"))


def _oracle_corr_matrix() -> str:
    parts = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            parts.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
                f"count(*) FILTER (WHERE {a} IS NOT NULL AND {b} IS "
                f"NOT NULL)::BIGINT AS n, "
                f"floor((corr({a}, {b})) * 1e{R} + 0.5) / 1e{R} AS corr FROM lineitem")
    return "\nUNION ALL\n".join(parts)


def q_copurchase_pmi_lineitem(spark, sf_dir):
    """Item-pair PMI over order baskets (items = l_partkey%199 so
    pairs repeat at small SF) — presence per basket, min 3 co-
    baskets."""
    from flink_ml__spark.functions.stats import CooccurrencePMI

    li = (load_table(spark, "lineitem", sf_dir)
          .select(F.col("l_orderkey").alias("basket"),
                  (F.col("l_partkey") % 199).alias("item")))
    out = (CooccurrencePMI().setGroupCol("basket").setItemCol("item")
           .setMinCount(3).transform(li))
    return out.select("item_a", "item_b", "n_ab", "n_a", "n_b",
                      _fq("pmi").alias("pmi"))


ORACLE_COPURCHASE_PMI = f"""
WITH pres AS (SELECT DISTINCT l_orderkey AS g,
                     l_partkey % 199 AS i
              FROM lineitem
              WHERE l_orderkey IS NOT NULL
                AND l_partkey IS NOT NULL),
capped AS (SELECT g, i FROM
           (SELECT g, i, count(*) OVER (PARTITION BY g) AS sz
            FROM pres) WHERE sz <= 1000),
nt AS (SELECT count(DISTINCT g)::BIGINT AS N FROM capped),
marg AS (SELECT i, count(*)::BIGINT AS n FROM capped GROUP BY 1),
pc AS (SELECT a.i AS item_a, b.i AS item_b, count(*)::BIGINT AS n_ab
       FROM capped a JOIN capped b ON a.g = b.g AND a.i < b.i
       GROUP BY 1, 2)
SELECT item_a, item_b, n_ab, ma.n AS n_a, mb.n AS n_b,
       floor((ln(n_ab::DOUBLE * nt.N / (ma.n::DOUBLE * mb.n))) * 1e{R} + 0.5) / 1e{R}
       AS pmi
FROM pc JOIN marg ma ON pc.item_a = ma.i
JOIN marg mb ON pc.item_b = mb.i
CROSS JOIN nt WHERE n_ab >= 3
"""


_HOUR_US = 3600 * 1_000_000


def q_mean_shift_events(spark, sf_dir):
    """Two-window mean-shift change-point scoring over the hourly
    per-event-type value series — both engines replay the same ROWS
    BETWEEN frames over the same unique (key, bucket) series."""
    from flink_ml__spark.functions.timeseries import MeanShiftDetector

    ev = load_table(spark, "events", sf_dir)
    bk = (F.floor(F.unix_micros("ts") / _HOUR_US)
          * _HOUR_US).cast("bigint")
    series = (ev.filter(F.col("ts").isNotNull()
                        & F.col("event_type").isNotNull())
              .groupBy("event_type", bk.alias("t_us"))
              .agg(F.avg("value").alias("v")))
    out = (MeanShiftDetector().setKeyCol("event_type")
           .setTimeCol("t_us").setValueCol("v")
           .setWindow(6).setThreshold(5.0).transform(series))
    return out.select("event_type", "t_us",
                      _fq("mean_before").alias("mean_before"),
                      _fq("mean_after").alias("mean_after"),
                      _fq("shift").alias("shift"), "is_shift")


ORACLE_MEAN_SHIFT = f"""
WITH b AS (SELECT event_type,
                  (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} AS t_us,
                  avg(value) AS v
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
w AS (SELECT event_type, t_us, v,
      avg(v) OVER (PARTITION BY event_type ORDER BY t_us
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS mb,
      count(v) OVER (PARTITION BY event_type ORDER BY t_us
                     ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS cb,
      avg(v) OVER (PARTITION BY event_type ORDER BY t_us
                   ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS ma,
      count(v) OVER (PARTITION BY event_type ORDER BY t_us
                     ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS ca
      FROM b)
SELECT event_type, t_us,
       floor((CASE WHEN cb = 6 THEN mb END) * 1e{R} + 0.5) / 1e{R} AS mean_before,
       floor((CASE WHEN ca = 6 THEN ma END) * 1e{R} + 0.5) / 1e{R} AS mean_after,
       floor((CASE WHEN cb = 6 AND ca = 6 THEN abs(ma - mb) END) * 1e{R} + 0.5) / 1e{R}
       AS shift,
       coalesce(cb = 6 AND ca = 6 AND abs(ma - mb) >= 5.0, FALSE)
       AS is_shift
FROM w
"""


_DAY_US_CORR = 86400 * 1_000_000
_CORR_PAIRS = [("value", "user_id"), ("value", "event_id")]


def q_corr_window_events(spark, sf_dir):
    """Windowed Pearson correlation between metric pairs per 1-day
    window — the SAME code path runs on an unbounded stream
    (`streaming.stream_correlation_monitor`, parity-tested); this
    batch run replays the six co-moment sums and the correlation
    arithmetic in SQL."""
    from flink_ml__spark.streaming.online import (
        stream_correlation_monitor,
    )

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull())
    out = stream_correlation_monitor(ev, "ts", _CORR_PAIRS,
                                     window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "pair", "n", _fq("corr").alias("corr"))


def _oracle_corr_window() -> str:
    cells = []
    for x, y in _CORR_PAIRS:
        both = f"{x} IS NOT NULL AND {y} IS NOT NULL"
        cells.append(f"""
  SELECT (epoch_us(ts) // {_DAY_US_CORR}) * {_DAY_US_CORR} AS win_us,
         '{x}:{y}' AS pair,
         count(x)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM (SELECT ts,
               CASE WHEN {both} THEN {x}::DOUBLE END AS x,
               CASE WHEN {both} THEN {y}::DOUBLE END AS y
        FROM events WHERE ts IS NOT NULL)
  GROUP BY 1, 2""")
    u = "\n  UNION ALL\n".join(cells)
    return f"""
WITH c AS ({u})
SELECT win_us, pair, n,
       floor((CASE WHEN sxx * n - sx * sx > 0
                   AND syy * n - sy * sy > 0
             THEN (sxy * n - sx * sy)
                  / sqrt((sxx * n - sx * sx) * (syy * n - sy * sy))
             END) * 1e{R} + 0.5) / 1e{R} AS corr
FROM c
"""


def q_components_events(spark, sf_dir):
    """Connected components over a 37-family derived graph (each
    event's edge stays inside family event_id%37, so the graph has
    many components by construction). Spark runs min-label
    propagation + pointer jumping to convergence; the oracle's
    recursive-CTE transitive closure converges to the identical
    min-reachable-id labels."""
    from flink_ml__spark.functions.graph import ConnectedComponents

    ev = load_table(spark, "events", sf_dir)
    g = F.col("event_id") % 37
    edges = ev.select((g * 1000 + F.col("user_id") % 50).alias("src"),
                      (g * 1000 + F.col("event_id") % 50).alias("dst"))
    return ConnectedComponents().transform(edges).select(
        "node", "component")


ORACLE_COMPONENTS = """
WITH RECURSIVE
raw AS (SELECT (event_id % 37) * 1000 + user_id % 50 AS s,
               (event_id % 37) * 1000 + event_id % 50 AS t
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
bidir AS (SELECT s AS a, t AS b FROM raw
          UNION SELECT t, s FROM raw),
reach AS (
    SELECT a, a AS b FROM (SELECT DISTINCT a FROM bidir)
    UNION
    SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
)
SELECT a AS node, min(b)::BIGINT AS component FROM reach GROUP BY 1
"""


def q_label_prop_events(spark, sf_dir):
    """4-round synchronous label propagation over the mod-150
    interaction graph — fixed rounds + weighted-vote/min-label ties
    make the classically order-dependent algorithm deterministic, so
    the oracle replays every round as a chained CTE."""
    from flink_ml__spark.functions.graph import LabelPropagation

    ev = load_table(spark, "events", sf_dir)
    edges = ev.select((F.col("user_id") % 150).alias("src"),
                      (F.col("event_id") % 150).alias("dst"))
    return (LabelPropagation().setMaxIter(4).transform(edges)
            .select("node", "label"))


def _oracle_label_prop(iters: int = 4) -> str:
    ctes = ["""raw AS (SELECT user_id % 150 AS s, event_id % 150 AS t
       FROM events
       WHERE user_id IS NOT NULL AND event_id IS NOT NULL
         AND user_id % 150 <> event_id % 150),
nb AS (SELECT a, b, count(*)::BIGINT AS w FROM
       (SELECT s AS a, t AS b FROM raw
        UNION ALL SELECT t, s FROM raw) GROUP BY 1, 2),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM nb)"""]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(f"""c{i} AS (SELECT nb.b AS node, l.label,
               sum(nb.w) AS c
        FROM nb JOIN l{p} l ON nb.a = l.node GROUP BY 1, 2),
l{i} AS (SELECT node, label FROM
        (SELECT node, label, row_number() OVER
                (PARTITION BY node ORDER BY c DESC, label ASC) AS r
         FROM c{i}) WHERE r = 1)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, label FROM l{iters}")


def q_stratified_sample_documents(spark, sf_dir):
    """Exact-10-per-language deterministic sample — salted-md5 rank
    within stratum, layout-invariant, identical window replay in
    SQL."""
    from flink_ml__spark.functions.curation import StratifiedSampler

    docs = load_table(spark, "documents", sf_dir)
    out = (StratifiedSampler().setGroupCol("lang").setK(10)
           .setSalt("eval").transform(docs))
    return out.select("doc_id", "lang", "sample_rank")


ORACLE_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
             ORDER BY md5('eval:' || doc_id::VARCHAR), doc_id)
         AS sample_rank
  FROM documents)
WHERE sample_rank <= 10
"""


def q_best_per_stratum_documents(spark, sf_dir):
    """Per-domain quality capping: the 10 LONGEST documents per
    language (``scoreCol`` mode of the stratified sampler), score
    plateaus split by the salted hash — the FineWeb-style per-domain
    quota, replayed as the identical window in SQL."""
    from flink_ml__spark.functions.curation import StratifiedSampler

    docs = load_table(spark, "documents", sf_dir)
    out = (StratifiedSampler().setGroupCol("lang").setK(10)
           .setSalt("cap").setScoreCol("n_chars").transform(docs))
    return out.select("doc_id", "lang", "n_chars", "sample_rank")


ORACLE_BEST_PER_STRATUM = """
SELECT doc_id, lang, n_chars, sample_rank FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
             ORDER BY n_chars DESC NULLS LAST,
                      md5('cap:' || doc_id::VARCHAR), doc_id)
         AS sample_rank
  FROM documents)
WHERE sample_rank <= 10
"""


def q_salted_join_events(spark, sf_dir):
    """Skew-mitigated salted join: events (event_type is the classic
    low-cardinality hot key) against a per-type profile table, split
    16 ways — the gate proves the salted plan's RESULT SET equals the
    plain SQL join."""
    from flink_ml__spark.functions.joins import SaltedJoiner

    ev = load_table(spark, "events", sf_dir)
    big = ev.select("event_id", "event_type", "value")
    small = (ev.groupBy("event_type")
             .agg(_fq(F.avg("value")).alias("type_avg")))
    out = SaltedJoiner().setNumSalts(16).join(
        big, small, ["event_type"], "inner")
    return out.select("event_id", "event_type",
                      _fq("value").alias("value"), "type_avg")


ORACLE_SALTED_JOIN = f"""
WITH small AS (SELECT event_type, floor((avg(value)) * 1e{R} + 0.5) / 1e{R} AS type_avg
               FROM events GROUP BY 1)
SELECT e.event_id, e.event_type, floor((e.value) * 1e{R} + 0.5) / 1e{R} AS value,
       s.type_avg
FROM events e JOIN small s USING (event_type)
"""


# ---------------------------------------------------------------------------
# URL / web-domain curation (functions/web.py)
# ---------------------------------------------------------------------------

# deterministic URL derivation from the documents table (the testdata
# ships no URL column; deriving in BOTH engines keeps the oracle exact
# — same pattern as the multimodal payload gates). The five forms
# exercise multi-part-suffix domains, default/non-default ports,
# tracking params, trailing slashes, and malformed input; the 220-row
# period (lcm of the 20-source cycle and the %11 path) plants exact
# canonical-URL duplicates for the dedup gate.
_URL_CASES_SQL = """CASE doc_id % 5
  WHEN 0 THEN 'https://www.' || source || '.example.co.uk:443/a/'
              || (doc_id % 11) || '/?utm_source=x&q=' || (doc_id % 13)
  WHEN 1 THEN 'http://' || source || '.example' || (doc_id % 2)
              || '.com:80/p/' || (doc_id % 11)
  WHEN 2 THEN 'https://cdn.' || source || '.example' || (doc_id % 2)
              || '.com/p/' || (doc_id % 11) || '?b=2&a=1&fbclid=zz'
  WHEN 3 THEN 'no-url-' || doc_id
  ELSE 'http://' || source || '.example' || (doc_id % 2)
       || '.com/p/' || ((doc_id + 1) % 11) || '/'
END"""


def _derived_url_col():
    d = F.col("doc_id")
    s = F.col("source")
    k = (d % 11).cast("string")
    di = (d % 2).cast("string")
    m = d % 5
    return (
        F.when(m == 0, F.concat(
            F.lit("https://www."), s, F.lit(".example.co.uk:443/a/"),
            k, F.lit("/?utm_source=x&q="), (d % 13).cast("string")))
        .when(m == 1, F.concat(
            F.lit("http://"), s, F.lit(".example"), di,
            F.lit(".com:80/p/"), k))
        .when(m == 2, F.concat(
            F.lit("https://cdn."), s, F.lit(".example"), di,
            F.lit(".com/p/"), k, F.lit("?b=2&a=1&fbclid=zz")))
        .when(m == 3, F.concat(F.lit("no-url-"), d.cast("string")))
        .otherwise(F.concat(
            F.lit("http://"), s, F.lit(".example"), di,
            F.lit(".com/p/"), ((d + 1) % 11).cast("string"),
            F.lit("/"))))


def _url_docs(spark, sf_dir):
    return (load_table(spark, "documents", sf_dir)
            .select("doc_id", _derived_url_col().alias("url")))


def q_url_parse_documents(spark, sf_dir):
    """URL → typed parts (scheme/host/registrable-domain/path/query);
    malformed rows yield NULL parts. Pure regexp codegen projection."""
    from flink_ml__spark.functions.web import UrlParser

    return (UrlParser().setInputCol("url")
            .transform(_url_docs(spark, sf_dir))
            .select("doc_id", "url_scheme", "url_host", "url_domain",
                    "url_path", "url_query"))


# shared oracle fragments: the same Java/RE2-compatible regex both
# engines run, and the registrable-domain CASE replayed over DuckDB
# list ops. Double braces are literal braces (these are f-strings).
_W_RE = (r"^([a-zA-Z][a-zA-Z0-9+.-]*):\/\/(?:[^@\/?#]*@)?([^:\/?#]+)"
         r"(?::(\d+))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$")


def _web_suffix_sql() -> str:
    from flink_ml__spark.functions.web import MULTIPART_SUFFIXES

    return ", ".join(f"'{s}'" for s in MULTIPART_SUFFIXES)


def _web_parts_cte() -> str:
    """CTEs ``u`` (doc_id, url) → ``wp`` (parts + registrable dom)."""
    return f"""
u AS (SELECT doc_id, {_URL_CASES_SQL} AS url FROM documents),
wh AS (SELECT doc_id, url,
        regexp_matches(url, '{_W_RE}') AS ok,
        lower(regexp_extract(url, '{_W_RE}', 1)) AS scheme,
        lower(regexp_extract(url, '{_W_RE}', 2)) AS host,
        regexp_extract(url, '{_W_RE}', 3) AS port,
        regexp_extract(url, '{_W_RE}', 4) AS path,
        regexp_extract(url, '{_W_RE}', 5) AS query
       FROM u),
wp AS (SELECT *, CASE
        WHEN NOT ok THEN NULL
        WHEN regexp_matches(host,
             '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$') THEN host
        WHEN len(string_split(host, '.')) <= 2 THEN host
        WHEN array_to_string(string_split(host, '.')[-2:], '.')
             IN ({_web_suffix_sql()})
          THEN array_to_string(string_split(host, '.')[-3:], '.')
        ELSE array_to_string(string_split(host, '.')[-2:], '.')
       END AS dom FROM wh)"""


ORACLE_URL_PARSE = f"""
WITH {_web_parts_cte()}
SELECT doc_id,
       CASE WHEN ok THEN scheme END AS url_scheme,
       CASE WHEN ok THEN host END AS url_host,
       dom AS url_domain,
       CASE WHEN ok THEN path END AS url_path,
       CASE WHEN ok THEN query END AS url_query
FROM wp
"""


def _web_canon_cte() -> str:
    """CTE ``wc``: wp + the canonical URL (tracking params dropped,
    params sorted, default ports cut, trailing slash trimmed)."""
    return f"""{_web_parts_cte()},
wc AS (SELECT *, CASE WHEN ok THEN
        scheme || '://' || host ||
        CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                  AND NOT (scheme = 'https' AND port = '443')
             THEN ':' || port ELSE '' END ||
        CASE WHEN len(path) > 1 AND path LIKE '%/'
             THEN substr(path, 1, len(path) - 1)
             WHEN path = '' THEN '/'
             ELSE path END ||
        CASE WHEN len(list_sort(list_filter(string_split(query, '&'),
               x -> x <> ''
                AND NOT lower(split_part(x, '=', 1))
                        IN ('fbclid', 'gclid', 'ref')
                AND NOT starts_with(lower(split_part(x, '=', 1)),
                                    'utm_')))) > 0
             THEN '?' || array_to_string(
                    list_sort(list_filter(string_split(query, '&'),
                      x -> x <> ''
                       AND NOT lower(split_part(x, '=', 1))
                               IN ('fbclid', 'gclid', 'ref')
                       AND NOT starts_with(lower(split_part(x, '=', 1)),
                                           'utm_'))), '&')
             ELSE '' END
       END AS canon FROM wp)"""


def q_url_canonical_documents(spark, sf_dir):
    """Canonical URL form (RefinedWeb-style pre-dedup normalization)."""
    from flink_ml__spark.functions.web import UrlCanonicalizer

    return (UrlCanonicalizer().setInputCol("url")
            .transform(_url_docs(spark, sf_dir))
            .select("doc_id", "url_canonical"))


ORACLE_URL_CANONICAL = f"""
WITH {_web_canon_cte()}
SELECT doc_id, canon AS url_canonical FROM wc
"""


def q_url_dedup_documents(spark, sf_dir):
    """Exact dedup by canonical URL: keep min doc_id per canonical;
    NULL/malformed URLs always survive (no URL evidence)."""
    from flink_ml__spark.functions.web import UrlDeduplicator

    return (UrlDeduplicator().setInputCol("url")
            .transform(_url_docs(spark, sf_dir))
            .select("doc_id", "url_canonical"))


ORACLE_URL_DEDUP = f"""
WITH {_web_canon_cte()}
SELECT doc_id, canon AS url_canonical FROM wc
WHERE canon IS NULL
   OR doc_id = (SELECT min(w2.doc_id) FROM wc w2
                WHERE w2.canon = wc.canon)
"""


def q_url_domain_filter_documents(spark, sf_dir):
    """C4-style domain blocklist gate: drop rows whose registrable
    domain (subdomains included) is blocked; NULL-URL rows pass."""
    from flink_ml__spark.functions.web import DomainFilter

    out = (DomainFilter().setInputCol("url")
           .setBlocklist("example0.com", "example.co.uk")
           .transform(_url_docs(spark, sf_dir)))
    return out.select("doc_id", "url")


ORACLE_URL_DOMAIN_FILTER = f"""
WITH {_web_parts_cte()}
SELECT doc_id, url FROM wp
WHERE dom IS NULL OR dom NOT IN ('example0.com', 'example.co.uk')
"""


# ---------------------------------------------------------------------------
# product quantization (round-7 additions; round-8 gate rotation)
# ---------------------------------------------------------------------------

def _trained_pq(spark, sf_dir):
    from flink_ml__spark.functions.similarity import ProductQuantizer

    emb = load_table(spark, "embeddings", sf_dir)
    pq = (ProductQuantizer().setNumSubspaces(8).setBitsPerCode(6)
          .setSeed(42).setK(5))
    pq.train(emb)
    return pq, emb


def q_pq_invariants_embeddings(spark, sf_dir):
    """Hard gate for the product quantizer: violations-only,
    expected EMPTY, WHERE-false oracle (the fcm/canopy/semdedup
    pattern — seeded k-means codebooks have no SQL replay, so the
    gate re-verifies the quantizer's defining properties through an
    INDEPENDENT pure-Catalyst path, taking only the codebooks as
    given):

    * ``bad_shape`` — ``pq_code`` length ≠ m, or any code outside
      ``[0, 2^bits)``;
    * ``not_argmin`` — some OTHER centroid of the row's subspace is
      strictly closer than the chosen one (codebooks re-embedded as
      nested array literals; distances recomputed with
      ``zip_with``/``aggregate`` higher-order functions, not numpy);
    * ``norm_mismatch`` — ``pq_norm`` ≠ √Σ‖chosen centroid‖² beyond
      1e-9 (subspaces are disjoint coordinate blocks).

    Per-subspace distance columns are MATERIALIZED via ``select``
    before being compared so no subtree is re-embedded m times.
    """
    pq, emb = _trained_pq(spark, sf_dir)
    codes = pq.transform(emb)
    books = pq._codebooks
    m = len(books)
    sub = len(books[0][0])
    k_sub = len(books[0])

    arr = F.transform("embedding", lambda x: x.cast("double"))
    base = codes.select("vec_id", "pq_code", "pq_norm",
                        arr.alias("__v"))

    def d2(xj, c):
        return F.aggregate(F.zip_with(xj, c, lambda a, b: (a - b) * (a - b)),
                           F.lit(0.0), lambda acc, x: acc + x)

    cols = []
    for j in range(m):
        bk = F.lit(books[j])
        xj = F.slice("__v", j * sub + 1, sub)
        chosen = F.element_at(bk, F.col("pq_code")[j] + 1)
        cols.append(d2(xj, chosen).alias(f"__cd{j}"))
        cols.append(F.array_min(
            F.transform(bk, lambda c: d2(xj, c))).alias(f"__bd{j}"))
        cols.append(F.aggregate(chosen, F.lit(0.0),
                                lambda acc, x: acc + x * x)
                    .alias(f"__cn{j}"))
    mat = base.select("vec_id", "pq_code", "pq_norm", *cols)

    gap = sum(F.greatest(F.col(f"__cd{j}") - F.col(f"__bd{j}"), F.lit(0.0))
              for j in range(m))
    norm_err = F.abs(
        F.sqrt(sum(F.col(f"__cn{j}") for j in range(m))) - F.col("pq_norm"))
    code_ok = (F.size("pq_code") == m) & F.forall(
        "pq_code", lambda c: (c >= 0) & (c < k_sub))

    shape_viol = (mat.filter(~code_ok)
                  .select("vec_id", F.lit("bad_shape").alias("check"),
                          F.lit(0.0).alias("detail")))
    argmin_viol = (mat.filter(code_ok & (gap > 1e-9))
                   .select("vec_id", F.lit("not_argmin").alias("check"),
                           _fq(gap, 6).alias("detail")))
    norm_viol = (mat.filter(code_ok & (norm_err > 1e-9))
                 .select("vec_id", F.lit("norm_mismatch").alias("check"),
                         _fq(norm_err, 6).alias("detail")))
    return shape_viol.unionByName(argmin_viol).unionByName(norm_viol)


ORACLE_PQ_INVARIANTS = """
SELECT vec_id::BIGINT AS vec_id, '' AS check, 0.0::DOUBLE AS detail
FROM embeddings WHERE false
"""


PQ_MEAN_RECALL_FLOOR = 0.25   # measured 0.36 (sf0.001) / 0.42 (sf0.01)


def q_ann_pq_topk(spark, sf_dir):
    """Recall-floor gate for PQ asymmetric-distance search, mirroring
    :func:`q_ann_ivf_topk`'s MEAN floor: violations-only vs the exact
    brute-force baseline, expected EMPTY, WHERE-false oracle. Floors
    are set for the synthetic ~uniform-sphere embeddings — the PQ
    worst case (no cluster structure for the codebooks to exploit;
    48-bit codes at 64 dims measured 0.36–0.42 mean recall@5).

    Deliberately NO per-query complete-miss check: at ~0.4 per-
    neighbor recall a 5-neighbor query misses completely with
    probability ≈ 0.6^5 ≈ 8% — a statistically EXPECTED event for
    codes-only ADC on structureless data (observed: query 250 at
    sf0.01), not a regression signal. The IVF/IVF-PQ gates keep their
    per-query floors because probing 8/16 cells bounds the miss mass
    deterministically. The corpus-wide mean is the stable signal."""
    pq, emb = _trained_pq(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    codes = pq.transform(emb)
    adc = pq.adc_topk(queries, codes).select("query_id", "neighbor_id")
    exact = (CosineTopK().setK(5).topk(queries, emb)
             .select("query_id", "neighbor_id"))
    hits = (exact.join(adc, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    n = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
    per_q = (n.join(hits, "query_id", "left")
             .select("query_id",
                     F.col("n_exact").cast("long").alias("n_exact"),
                     n_hit.alias("n_hit"),
                     _fq(n_hit / F.col("n_exact"), 3)
                     .alias("recall_at_5")))
    return (per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").alias("n_exact"),
        F.sum("n_hit").alias("n_hit"),
        _fq(F.avg("recall_at_5"), 3).alias("recall_at_5"))
        .filter(F.col("recall_at_5") < F.lit(PQ_MEAN_RECALL_FLOOR)))


ORACLE_ANN_PQ = """
SELECT vec_id::BIGINT AS query_id, 0::BIGINT AS n_exact,
       0::BIGINT AS n_hit, 0.0::DOUBLE AS recall_at_5
FROM embeddings WHERE false
"""


IVFPQ_MEAN_RECALL_FLOOR = 0.45  # measured 0.54 (sf0.001) / 0.66 (sf0.01)
IVFPQ_ZERO_RECALL_FRAC_CAP = 0.10  # bounded complete-miss fraction:
# with ~0.6 per-neighbor recall and CORRELATED misses (a coarse-cell
# miss drops all 5 neighbors at once), P(0/5) per query is a few
# percent on the ~uniform synthetic corpus; observed 2/40 = 5% at
# sf0.1, 0 at sf0.01. A broken quantizer sends this past 10% at once.


def q_ann_ivfpq_topk(spark, sf_dir):
    """Recall-floor gate for the full IVF-PQ pipeline (coarse cells +
    residual PQ codes + exact refine at 4·k), mirroring
    :func:`q_ann_ivf_topk`: violations-only vs exact brute force,
    expected EMPTY, WHERE-false oracle. ADC-only recall compounds the
    cell-miss AND quantization error (measured 0.40 on the ~uniform
    synthetic corpus); the refine stage recovers to 0.56–0.72,
    bounded above by the coarse quantizer's own cell recall — floors
    set accordingly.

    Per-query complete misses are a BOUNDED-FRACTION invariant, not a
    zero-tolerance one (unlike pure IVF): PQ quantization error on
    top of the cell miss makes an occasional 0/5 query statistically
    expected on structureless data (observed 2 of ~1.3k queries at
    sf0.1, = 5% of the 40-query set). The gate emits a
    ``query_id=-2`` sentinel — carrying (n_queries, n_zero_recall,
    zero_frac) in the shared schema — when the zero-recall fraction
    exceeds ``IVFPQ_ZERO_RECALL_FRAC_CAP``."""
    from flink_ml__spark.functions.similarity import IVFPQTopK

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    op = (IVFPQTopK().setK(5).setNList(16).setNProbe(8)
          .setNumSubspaces(8).setBitsPerCode(6).setSeed(42)
          .setRefineFactor(4))
    op.train(emb)
    got = op.topk(queries, emb).select("query_id", "neighbor_id")
    exact = (CosineTopK().setK(5).topk(queries, emb)
             .select("query_id", "neighbor_id"))
    hits = (exact.join(got, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    n = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
    per_q = (n.join(hits, "query_id", "left")
             .select("query_id",
                     F.col("n_exact").cast("long").alias("n_exact"),
                     n_hit.alias("n_hit"),
                     _fq(n_hit / F.col("n_exact"), 3)
                     .alias("recall_at_5")))
    zero = (F.col("recall_at_5") <= 0.0).cast("long")
    zero_viol = (per_q.agg(
        F.lit(-2).cast("long").alias("query_id"),
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(zero).alias("n_hit"),
        _fq(F.avg(zero.cast("double")), 3).alias("recall_at_5"))
        .filter(F.col("recall_at_5")
                > F.lit(IVFPQ_ZERO_RECALL_FRAC_CAP)))
    mean_viol = (per_q.agg(
        F.lit(-1).cast("long").alias("query_id"),
        F.sum("n_exact").alias("n_exact"),
        F.sum("n_hit").alias("n_hit"),
        _fq(F.avg("recall_at_5"), 3).alias("recall_at_5"))
        .filter(F.col("recall_at_5") < F.lit(IVFPQ_MEAN_RECALL_FLOOR)))
    return zero_viol.unionByName(mean_viol)


ORACLE_ANN_IVFPQ = """
SELECT vec_id::BIGINT AS query_id, 0::BIGINT AS n_exact,
       0::BIGINT AS n_hit, 0.0::DOUBLE AS recall_at_5
FROM embeddings WHERE false
"""


def q_cms_invariants_events(spark, sf_dir):
    """Hard gate for the count-min sketch: violations-only, expected
    EMPTY, WHERE-false oracle. Per-key checks against the exact
    ``groupBy`` counts:

    * ``underestimate`` — ``est < true`` (impossible by construction;
      any row here is a build/query hash mismatch);
    * ``overrun`` — ``est > true + ceil(e/width · N)``, the paper's
      per-query error bound (holds w.p. ``1 − e^-depth``; with the
      fixed seed the outcome is deterministic — measured overestimate
      is 0 at sf0.001/sf0.01 with width 2048).
    """
    import math

    from flink_ml__spark.functions.sketches import CountMinSketch

    ev = load_table(spark, "events", sf_dir)
    cms = (CountMinSketch().setInputCol("user_id")
           .setDepth(5).setWidth(2048).setSeed(17).build(ev))
    bound = math.ceil(math.e / cms.getWidth() * cms._total)
    per_key = (cms.transform(ev)
               .groupBy("user_id")
               .agg(F.first("cms_est").alias("est"),
                    F.count(F.lit(1)).alias("true_cnt")))
    under = (per_key.filter(F.col("est") < F.col("true_cnt"))
             .select("user_id", F.lit("underestimate").alias("check"),
                     (F.col("true_cnt") - F.col("est")).alias("detail")))
    over = (per_key.filter(
        F.col("est") > F.col("true_cnt") + F.lit(bound))
        .select("user_id", F.lit("overrun").alias("check"),
                (F.col("est") - F.col("true_cnt")).alias("detail")))
    return under.unionByName(over)


ORACLE_CMS_INVARIANTS = """
SELECT user_id::BIGINT AS user_id, '' AS check, 0::BIGINT AS detail
FROM events WHERE false
"""


def q_negative_sample_documents(spark, sf_dir):
    """Deterministic contrastive negative sampling: anchors are every
    10th document, positives the (anchor, anchor+1) pairs, k=3 with
    oversample 4. The oracle replays the dense id rank, every LCG
    draw, the self/positive exclusions, the earliest-draw dedup and
    the per-anchor cut — a full hash-match gate on a SAMPLER."""
    from flink_ml__spark.functions.curation import NegativeSampler

    docs = load_table(spark, "documents", sf_dir)
    anchors = docs.filter(F.col("doc_id") % 10 == 0)
    positives = anchors.select(
        F.col("doc_id").alias("anchor_id"),
        (F.col("doc_id") + 1).alias("pos_id"))
    return (NegativeSampler().setK(3).setOversample(4).setSalt(0)
            .sample(anchors, docs, positives))


ORACLE_NEGATIVE_SAMPLE = """
WITH idx AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS i
  FROM documents),
tot AS (SELECT count(*) AS n FROM documents),
anchors AS (SELECT doc_id AS anchor_id FROM documents
            WHERE doc_id % 10 = 0),
draws AS (
  SELECT anchor_id, gs.i AS di,
         ((anchor_id * 2654435761 + gs.i * 1013904223) % 2147483647)
           % (SELECT n FROM tot) AS t
  FROM anchors, generate_series(1, 7) AS gs(i)),
hit AS (
  SELECT d.anchor_id, d.di, idx.doc_id AS neg_id
  FROM draws d JOIN idx ON d.t = idx.i
  WHERE idx.doc_id <> d.anchor_id
    AND idx.doc_id <> d.anchor_id + 1),
ded AS (SELECT anchor_id, neg_id, min(di) AS di
        FROM hit GROUP BY 1, 2),
r AS (SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY di) AS draw
      FROM ded)
SELECT anchor_id, neg_id, draw::INT AS draw FROM r WHERE draw <= 3
"""


def q_dataset_fingerprint_orders(spark, sf_dir):
    """Order-independent content checksum of three orders columns;
    the oracle replays the md5-derived 60-bit row hashes, the
    decimal mod-2^61 sum and the distinct count exactly — equal
    fingerprints ⇔ equal row multisets, any layout."""
    from flink_ml__spark.functions.linkage import DatasetFingerprint

    orders = load_table(spark, "orders", sf_dir)
    return (DatasetFingerprint()
            .setInputCols("o_orderkey", "o_orderstatus", "o_totalprice")
            .transform(orders))


ORACLE_DATASET_FINGERPRINT = """
WITH h AS (
  SELECT ('0x' || substring(md5(concat_ws(chr(31),
            coalesce(o_orderkey::VARCHAR, chr(0)),
            coalesce(o_orderstatus::VARCHAR, chr(0)),
            coalesce(o_totalprice::VARCHAR, chr(0)))), 1, 15))::BIGINT
           AS hv,
         concat_ws(chr(31),
            coalesce(o_orderkey::VARCHAR, chr(0)),
            coalesce(o_orderstatus::VARCHAR, chr(0)),
            coalesce(o_totalprice::VARCHAR, chr(0))) AS j
  FROM orders)
SELECT count(*)::BIGINT AS n_rows,
       to_hex((sum(hv::HUGEINT) % 2305843009213693952)::BIGINT)
         AS checksum,
       count(DISTINCT j)::BIGINT AS n_distinct
FROM h
"""


def q_label_consensus_documents(spark, sf_dir):
    """Majority vote over three deterministic labeling functions
    (lang gate, length gate, an abstaining id-parity rule); the
    oracle replays every vote, the tie/abstain NULL semantics and
    the agreement arithmetic."""
    from flink_ml__spark.functions.evaluation import LabelConsensus

    docs = load_table(spark, "documents", sf_dir)
    frame = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("lf_en"),
        (F.length("text") > 500).cast("int").alias("lf_long"),
        F.when(F.col("doc_id") % 7 != 0,
               (F.col("doc_id") % 3 == 0).cast("int"))
        .alias("lf_parity"))
    out = (LabelConsensus()
           .setInputCols("lf_en", "lf_long", "lf_parity")
           .transform(frame))
    return out.select("doc_id", "n_votes", "n_pos", "consensus",
                      _fq("agreement").alias("agreement"),
                      "is_unanimous")


ORACLE_LABEL_CONSENSUS = f"""
WITH v AS (
  SELECT doc_id,
         (lang = 'en')::INT AS a,
         (length(text) > 500)::INT AS b,
         CASE WHEN doc_id % 7 <> 0 THEN (doc_id % 3 = 0)::INT END AS c
  FROM documents),
s AS (
  SELECT doc_id,
         (a IS NOT NULL)::INT + (b IS NOT NULL)::INT
           + (c IS NOT NULL)::INT AS nv,
         coalesce(a, 0) + coalesce(b, 0) + coalesce(c, 0) AS np
  FROM v)
SELECT doc_id, nv AS n_votes, np AS n_pos,
       CASE WHEN nv = 0 THEN NULL
            WHEN np * 2 > nv THEN 1
            WHEN np * 2 < nv THEN 0 END AS consensus,
       CASE WHEN nv > 0 THEN
         floor((greatest(np, nv - np)::DOUBLE / nv) * 1e{R} + 0.5) / 1e{R} END
         AS agreement,
       coalesce(nv > 0 AND (np = nv OR np = 0), false)
         AS is_unanimous
FROM s
"""


def q_readability_documents(spark, sf_dir):
    """Flesch reading ease + Flesch–Kincaid grade per document; the
    oracle replays the token/sentence/vowel-group regex counts and
    both published formulas exactly."""
    from flink_ml__spark.functions.text import ReadabilityScorer

    docs = load_table(spark, "documents", sf_dir)
    out = ReadabilityScorer().transform(docs)
    return out.select("doc_id", "n_words_rd", "n_sentences",
                      "n_syllables",
                      _fq("flesch_ease").alias("flesch_ease"),
                      _fq("fk_grade").alias("fk_grade"))


ORACLE_READABILITY = f"""
WITH t AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
  FROM documents)
SELECT doc_id,
       CASE WHEN text IS NOT NULL THEN w END AS n_words_rd,
       CASE WHEN text IS NOT NULL THEN s END AS n_sentences,
       CASE WHEN text IS NOT NULL THEN y END AS n_syllables,
       CASE WHEN text IS NOT NULL AND w > 0 THEN
         floor((206.835 - 1.015 * (w::DOUBLE / s)
               - 84.6 * (y::DOUBLE / w)) * 1e{R} + 0.5) / 1e{R} END AS flesch_ease,
       CASE WHEN text IS NOT NULL AND w > 0 THEN
         floor((0.39 * (w::DOUBLE / s) + 11.8 * (y::DOUBLE / w)
               - 15.59) * 1e{R} + 0.5) / 1e{R} END AS fk_grade
FROM t
"""


def q_bloom_join_events(spark, sf_dir):
    """Bloom-prefiltered inner join: events (big) ⋈ the distinct
    click-user dim (small) on user_id, the big side pre-filtered by a
    bitset built on the small side's keys. The filter has no false
    negatives, and false positives die in the real join — so the
    result must EQUAL the plain SQL join, which is the oracle (the
    strongest possible gate for a lossy-pre-filter optimization)."""
    from flink_ml__spark.functions.joins import BloomJoinFilter

    ev = load_table(spark, "events", sf_dir)
    dim = (ev.filter(F.col("event_type") == "click")
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_clicks")))
    out = (BloomJoinFilter().setKeyCols("user_id")
           .setNumBits(1 << 16).setNumHashes(4)
           .filtered_join(ev, dim, "inner"))
    return out.select("event_id", "user_id", "event_type", "n_clicks")


ORACLE_BLOOM_JOIN = """
WITH dim AS (SELECT user_id, count(*) AS n_clicks FROM events
             WHERE event_type = 'click' GROUP BY user_id)
SELECT e.event_id, e.user_id, e.event_type, dim.n_clicks
FROM events e JOIN dim USING (user_id)
"""


def _calibration_frame(spark, sf_dir):
    """Deterministic confidence signal for the calibration gates:
    score = min(len(text)/2000, 1) as a 'long docs are English'
    confidence, label = (lang == 'en') — related enough that bins are
    populated unevenly, exactly replayable in SQL."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        (F.col("lang") == "en").cast("int").alias("label"),
        F.least(F.length("text") / 2000.0, F.lit(1.0)).alias("score"))


_CALIB_CTE = """
s AS (SELECT (lang = 'en')::INT AS y,
             least(length(text) / 2000.0, 1.0) AS sv
      FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
g AS (SELECT least(floor(sv * 10)::INT, 9) AS bin,
             count(*) AS n, avg(sv) AS avg_score, avg(y) AS frac_pos
      FROM s GROUP BY 1)
"""


def q_ewma_forecast_events(spark, sf_dir):
    """Per-user exponential smoothing of the event metric, ordered by
    event_id (unique → deterministic frames). The oracle replays the
    truncated adjust-weighted mean with DuckDB's windowed ``list`` +
    indexed lambda (1-based there, 0-based in Spark) and the
    IGNORE-NULLS one-step forecast."""
    from flink_ml__spark.functions.timeseries import ExponentialSmoother

    ev = load_table(spark, "events", sf_dir)
    out = (ExponentialSmoother().setKeyCol("user_id")
           .setTimeCol("event_id").setValueCol("value")
           .setAlpha(0.3).setMaxLag(50).transform(ev))
    return out.select("event_id", "user_id",
                      _fq("ewma").alias("ewma"),
                      _fq("forecast").alias("forecast"),
                      _fq("residual").alias("residual"))


ORACLE_EWMA = f"""
WITH w AS (
  SELECT event_id, user_id, value,
         list_filter(list(value) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
             x -> x IS NOT NULL) AS xs
  FROM events),
e AS (
  SELECT event_id, user_id, value,
         CASE WHEN value IS NOT NULL AND len(xs) > 0 THEN
           list_sum(list_transform(xs,
               (x, i) -> x * pow(0.7, len(xs) - i)))
           / ((1 - pow(0.7, len(xs))) / 0.3)
         END AS ewma
  FROM w),
f AS (
  SELECT event_id, user_id, value, ewma,
         last_value(ewma IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS forecast
  FROM e)
SELECT event_id, user_id, floor((ewma) * 1e{R} + 0.5) / 1e{R} AS ewma,
       floor((forecast) * 1e{R} + 0.5) / 1e{R} AS forecast,
       floor((value - forecast) * 1e{R} + 0.5) / 1e{R} AS residual
FROM f
"""


def q_calibration_bins_documents(spark, sf_dir):
    """Reliability-diagram table (10 fixed-width bins) for the
    deterministic length→English confidence signal; the oracle
    replays the clamp, the binning and the per-bin means."""
    from flink_ml__spark.functions.evaluation import CalibrationEvaluator

    rel = (CalibrationEvaluator().setNumBins(10)
           .reliability(_calibration_frame(spark, sf_dir)))
    return rel.select("bin", "n",
                      _fq("avg_score").alias("avg_score"),
                      _fq("frac_pos").alias("frac_pos"),
                      _fq("gap").alias("gap"))


ORACLE_CALIBRATION_BINS = f"""
WITH {_CALIB_CTE}
SELECT bin, n, floor((avg_score) * 1e{R} + 0.5) / 1e{R} AS avg_score,
       floor((frac_pos) * 1e{R} + 0.5) / 1e{R} AS frac_pos,
       floor((frac_pos - avg_score) * 1e{R} + 0.5) / 1e{R} AS gap
FROM g
"""


def q_calibration_eval_documents(spark, sf_dir):
    """One-row calibration summary (ECE / MCE / Brier) for the same
    signal; the oracle replays the n-weighted |gap| mean, the max
    |gap| and the mean squared error."""
    from flink_ml__spark.functions.evaluation import CalibrationEvaluator

    out = (CalibrationEvaluator().setNumBins(10)
           .evaluate(_calibration_frame(spark, sf_dir)))
    return out.select("n",
                      _fq("ece").alias("ece"),
                      _fq("mce").alias("mce"),
                      _fq("brier").alias("brier"))


ORACLE_CALIBRATION_EVAL = f"""
WITH {_CALIB_CTE}
SELECT (SELECT count(*) FROM s)::BIGINT AS n,
       floor((sum(n * abs(frac_pos - avg_score))
             / (SELECT count(*) FROM s)) * 1e{R} + 0.5) / 1e{R} AS ece,
       floor((max(abs(frac_pos - avg_score))) * 1e{R} + 0.5) / 1e{R} AS mce,
       floor(((SELECT avg((sv - y) * (sv - y)) FROM s)) * 1e{R} + 0.5) / 1e{R} AS brier
FROM g
"""


def q_classification_report_documents(spark, sf_dir):
    """Per-class precision/recall/F1 of a deterministic mock lang
    predictor (right for 4 of 5 id-residues, 'xx' otherwise) against
    the true lang column; the oracle replays the full confusion
    arithmetic including the never-predicted / never-true NULL rules."""
    from flink_ml__spark.functions.evaluation import ClassificationReport

    docs = load_table(spark, "documents", sf_dir)
    frame = docs.select(
        F.col("lang").alias("label"),
        F.when(F.col("doc_id") % 5 < 4, F.col("lang"))
        .otherwise(F.lit("xx")).alias("prediction"))
    out = ClassificationReport().evaluate(frame)
    return out.select("class_", "support", "predicted", "tp",
                      _fq("precision").alias("precision"),
                      _fq("recall").alias("recall"),
                      _fq("f1").alias("f1"))


ORACLE_CLASSIFICATION_REPORT = f"""
WITH d AS (
  SELECT lang AS y,
         CASE WHEN doc_id % 5 < 4 THEN lang ELSE 'xx' END AS p
  FROM documents),
cls AS (SELECT y AS class_ FROM d UNION SELECT p FROM d),
m AS (
  SELECT class_,
         (SELECT count(*) FROM d WHERE y = class_) AS support,
         (SELECT count(*) FROM d WHERE p = class_) AS predicted,
         (SELECT count(*) FROM d WHERE y = class_ AND p = class_) AS tp
  FROM cls),
r AS (
  SELECT class_, support, predicted, tp,
         CASE WHEN predicted > 0 THEN tp::DOUBLE / predicted END AS pr,
         CASE WHEN support > 0 THEN tp::DOUBLE / support END AS rc
  FROM m)
SELECT class_, support::BIGINT AS support, predicted::BIGINT AS predicted,
       coalesce(tp, 0)::BIGINT AS tp,
       floor((pr) * 1e{R} + 0.5) / 1e{R} AS precision,
       floor((rc) * 1e{R} + 0.5) / 1e{R} AS recall,
       floor((CASE WHEN pr IS NULL OR rc IS NULL THEN NULL
                  WHEN pr + rc = 0 THEN 0.0
                  ELSE 2 * pr * rc / (pr + rc) END) * 1e{R} + 0.5) / 1e{R} AS f1
FROM r
"""


def q_kappa_documents(spark, sf_dir):
    """Cohen's kappa between two overlapping length-threshold
    'raters' (>400 and >350 chars); the oracle replays the agreement
    matrix, both marginal products and the chance correction."""
    from flink_ml__spark.functions.evaluation import AgreementEvaluator

    docs = load_table(spark, "documents", sf_dir)
    frame = docs.select(
        (F.length("text") > 400).cast("int").alias("rater_a"),
        (F.length("text") > 350).cast("int").alias("rater_b"))
    out = AgreementEvaluator().evaluate(frame)
    return out.select("n",
                      _fq("po").alias("po"),
                      _fq("pe").alias("pe"),
                      _fq("kappa").alias("kappa"))


ORACLE_KAPPA = f"""
WITH d AS (
  SELECT (length(text) > 400)::INT AS a,
         (length(text) > 350)::INT AS b
  FROM documents),
s AS (
  SELECT count(*)::BIGINT AS n,
         sum((a = b)::INT) AS agree,
         (SELECT sum(na::DOUBLE * nb) FROM
            (SELECT a AS c, count(*) AS na FROM d GROUP BY a) x
            JOIN (SELECT b AS c, count(*) AS nb FROM d GROUP BY b) y
            USING (c)) AS pe_num
  FROM d),
r AS (
  SELECT n,
         CASE WHEN n > 0 THEN agree::DOUBLE / n END AS po,
         CASE WHEN n > 0 THEN pe_num / (n::DOUBLE * n) END AS pe
  FROM s)
SELECT n, floor((po) * 1e{R} + 0.5) / 1e{R} AS po, floor((pe) * 1e{R} + 0.5) / 1e{R} AS pe,
       floor((CASE WHEN pe < 1.0 THEN (po - pe) / (1 - pe) END) * 1e{R} + 0.5) / 1e{R}
         AS kappa
FROM r
"""


def q_ab_test_orders(spark, sf_dir):
    """Welch t readout of o_totalprice across three synthetic
    experiment arms (orderkey-residue assignment, residue 0 =
    control); the oracle replays the per-arm moments, the unequal-
    variance t and the Welch–Satterthwaite dof exactly."""
    from flink_ml__spark.functions.stats import ABTestAnalyzer

    orders = load_table(spark, "orders", sf_dir)
    frame = orders.select(
        F.element_at(F.array(F.lit("control"), F.lit("a"), F.lit("b")),
                     (F.col("o_orderkey") % 3 + 1).cast("int"))
        .alias("variant"),
        F.col("o_totalprice").alias("metric"))
    out = ABTestAnalyzer().evaluate(frame)
    return (out.select("variant", "n_c", "n_v",
                       _fq("mean_c").alias("mean_c"),
                       _fq("mean_v").alias("mean_v"),
                       _fq("lift").alias("lift"),
                       _fq("lift_pct").alias("lift_pct"),
                       _fq("t_stat").alias("t_stat"),
                       _fq("dof").alias("dof"),
                       "significant")
            .orderBy("variant"))


ORACLE_AB_TEST = f"""
WITH d AS (
  SELECT ['control', 'a', 'b'][(o_orderkey % 3 + 1)::INT] AS v,
         o_totalprice::DOUBLE AS m
  FROM orders),
g AS (
  SELECT v, count(*)::BIGINT AS n, avg(m) AS mean,
         coalesce(var_samp(m), 0.0) AS var
  FROM d GROUP BY v),
j AS (
  SELECT t.v AS variant, c.n AS n_c, t.n AS n_v,
         c.mean AS mean_c, t.mean AS mean_v,
         c.var AS var_c, t.var AS var_v,
         t.mean - c.mean AS lift,
         c.var / c.n + t.var / t.n AS se2
  FROM g t, g c WHERE c.v = 'control' AND t.v <> 'control'),
r AS (
  SELECT variant, n_c, n_v, mean_c, mean_v, lift,
         CASE WHEN mean_c <> 0 THEN lift / abs(mean_c) END AS lift_pct,
         CASE WHEN n_c >= 2 AND n_v >= 2 AND se2 > 0
              THEN lift / sqrt(se2) END AS t_stat,
         CASE WHEN n_c >= 2 AND n_v >= 2 AND se2 > 0
              THEN se2 * se2 / (pow(var_c / n_c, 2) / (n_c - 1)
                               + pow(var_v / n_v, 2) / (n_v - 1))
              END AS dof
  FROM j)
SELECT variant, n_c, n_v,
       floor((mean_c) * 1e{R} + 0.5) / 1e{R} AS mean_c, floor((mean_v) * 1e{R} + 0.5) / 1e{R} AS mean_v,
       floor((lift) * 1e{R} + 0.5) / 1e{R} AS lift, floor((lift_pct) * 1e{R} + 0.5) / 1e{R} AS lift_pct,
       floor((t_stat) * 1e{R} + 0.5) / 1e{R} AS t_stat, floor((dof) * 1e{R} + 0.5) / 1e{R} AS dof,
       coalesce(abs(t_stat) > 1.96, false) AS significant
FROM r ORDER BY variant
"""


def q_benford_orders(spark, sf_dir):
    """First-significant-digit profile of o_totalprice vs Benford's
    law; the oracle replays the arithmetic digit extraction, the
    expected log-law and every chi-square term."""
    from flink_ml__spark.functions.stats import BenfordProfiler

    orders = load_table(spark, "orders", sf_dir)
    out = BenfordProfiler().setInputCol("o_totalprice").transform(orders)
    return out.select("digit", "n",
                      _fq("observed").alias("observed"),
                      _fq("expected").alias("expected"),
                      _fq("chi2_term").alias("chi2_term"))


ORACLE_BENFORD = f"""
WITH x AS (
  SELECT abs(o_totalprice::DOUBLE) AS v FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice <> 0),
d AS (
  SELECT greatest(least(
           floor(v / pow(10.0, floor(log10(v))))::INT, 9), 1) AS digit
  FROM x),
c AS (
  SELECT dd.digit, count(d.digit)::BIGINT AS n
  FROM (SELECT unnest(generate_series(1, 9)) AS digit) dd
  LEFT JOIN d ON d.digit = dd.digit
  GROUP BY dd.digit),
t AS (SELECT sum(n) AS total FROM c)
SELECT c.digit, c.n,
       floor((CASE WHEN total > 0 THEN c.n::DOUBLE / total END) * 1e{R} + 0.5) / 1e{R}
         AS observed,
       floor((log10(1 + 1.0 / c.digit)) * 1e{R} + 0.5) / 1e{R} AS expected,
       floor((CASE WHEN total > 0 THEN
               total * pow(c.n::DOUBLE / total
                           - log10(1 + 1.0 / c.digit), 2)
                     / log10(1 + 1.0 / c.digit) END) * 1e{R} + 0.5) / 1e{R} AS chi2_term
FROM c, t ORDER BY c.digit
"""


def q_minmax_scale_lineitem(spark, sf_dir):
    """Min-max rescale of l_extendedprice onto [0, 1] — the fitted
    min/max and the affine map replay verbatim in SQL."""
    from flink_ml__spark.functions.feature_gen import MinMaxScaler

    li = load_table(spark, "lineitem", sf_dir)
    model = MinMaxScaler().setInputCol("l_extendedprice").fit(li)
    return (model.transform(li)
            .select("l_orderkey", "l_linenumber",
                    _fq("scaled_value").alias("scaled_value")))


ORACLE_MINMAX_SCALE = f"""
WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       floor(((l_extendedprice - b.lo) / (b.hi - b.lo)) * 1e{R} + 0.5) / 1e{R}
         AS scaled_value
FROM lineitem CROSS JOIN b
"""


def q_maxabs_scale_orders(spark, sf_dir):
    """Max-abs rescale of o_totalprice onto [-1, 1] — one max(abs)
    fit, map-only apply, both replayed in SQL."""
    from flink_ml__spark.functions.feature_gen import MaxAbsScaler

    orders = load_table(spark, "orders", sf_dir)
    model = MaxAbsScaler().setInputCol("o_totalprice").fit(orders)
    return (model.transform(orders)
            .select("o_orderkey",
                    _fq("scaled_value").alias("scaled_value")))


ORACLE_MAXABS_SCALE = f"""
WITH b AS (SELECT max(abs(o_totalprice)) AS m FROM orders)
SELECT o_orderkey, floor((o_totalprice / b.m) * 1e{R} + 0.5) / 1e{R} AS scaled_value
FROM orders CROSS JOIN b
"""


def q_robust_scale_lineitem(spark, sf_dir):
    """Median/IQR robust scaling of l_quantity — the exact
    interpolated quantile fit and the affine map replay via
    quantile_cont."""
    from flink_ml__spark.functions.feature_gen import RobustScaler

    li = load_table(spark, "lineitem", sf_dir)
    model = RobustScaler().setInputCol("l_quantity").fit(li)
    return (model.transform(li)
            .select("l_orderkey", "l_linenumber",
                    _fq("scaled_value").alias("scaled_value")))


ORACLE_ROBUST_SCALE = f"""
WITH b AS (SELECT quantile_cont(l_quantity, 0.25) AS lo,
                  quantile_cont(l_quantity, 0.5)  AS med,
                  quantile_cont(l_quantity, 0.75) AS hi
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       floor(((l_quantity - b.med)
             / (CASE WHEN b.hi - b.lo = 0 THEN 1 ELSE b.hi - b.lo END)) * 1e{R} + 0.5) / 1e{R} AS scaled_value
FROM lineitem CROSS JOIN b
"""


def q_quantile_bins_orders(spark, sf_dir):
    """Equal-frequency quartile binning of o_totalprice — the three
    exact interpolated edges and the folded CASE chain replay in SQL
    (o_totalprice is continuous, so no edge collapses at this SF)."""
    from flink_ml__spark.functions.feature_gen import QuantileDiscretizer

    orders = load_table(spark, "orders", sf_dir)
    model = (QuantileDiscretizer().setInputCol("o_totalprice")
             .setNumBuckets(4).fit(orders))
    return model.transform(orders).select("o_orderkey", "bucket")


ORACLE_QUANTILE_BINS = """
WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS e1,
                  quantile_cont(o_totalprice, 0.50) AS e2,
                  quantile_cont(o_totalprice, 0.75) AS e3
           FROM orders)
SELECT o_orderkey,
       (CASE WHEN o_totalprice IS NULL THEN NULL
             WHEN o_totalprice <= b.e1 THEN 0
             WHEN o_totalprice <= b.e2 THEN 1
             WHEN o_totalprice <= b.e3 THEN 2
             ELSE 3 END)::INT AS bucket
FROM orders CROSS JOIN b
"""


def q_string_index_events(spark, sf_dir):
    """Frequency-ordered label indexing of event_type — the count
    ranking (ties alphabetical) and the broadcast lookup replay as a
    row_number + left join."""
    from flink_ml__spark.functions.encoding import StringIndexer

    events = load_table(spark, "events", sf_dir)
    model = StringIndexer().setInputCol("event_type").fit(events)
    return model.transform(events).select("event_id", "label_index")


ORACLE_STRING_INDEX = """
WITH c AS (SELECT event_type AS l, count(*) AS cnt FROM events
           WHERE event_type IS NOT NULL GROUP BY 1),
m AS (SELECT l, (row_number() OVER (ORDER BY cnt DESC, l ASC) - 1)::INT
             AS idx
      FROM c),
v AS (SELECT count(*)::INT AS n FROM m)
SELECT e.event_id, coalesce(m.idx, v.n) AS label_index
FROM events e LEFT JOIN m ON e.event_type = m.l CROSS JOIN v
"""


def q_target_encode_orders(spark, sf_dir):
    """m-estimate smoothed mean-target encoding of o_orderpriority
    against o_totalprice (smoothing 20) — the per-category moments,
    the global prior and the shrinkage formula replay exactly."""
    from flink_ml__spark.functions.encoding import TargetEncoder

    orders = load_table(spark, "orders", sf_dir)
    model = (TargetEncoder().setInputCol("o_orderpriority")
             .setTargetCol("o_totalprice").setSmoothing(20.0).fit(orders))
    return (model.transform(orders)
            .select("o_orderkey",
                    _fq("target_enc").alias("target_enc")))


ORACLE_TARGET_ENCODE = f"""
WITH f AS (SELECT o_orderpriority AS cat, o_totalprice::DOUBLE AS t
           FROM orders
           WHERE o_totalprice IS NOT NULL
             AND o_orderpriority IS NOT NULL),
p AS (SELECT avg(t) AS prior FROM f),
e AS (SELECT cat, (sum(t) + 20.0 * p.prior) / (count(*) + 20.0) AS enc
      FROM f CROSS JOIN p GROUP BY cat, p.prior)
SELECT o.o_orderkey,
       floor((coalesce(e.enc, p.prior)) * 1e{R} + 0.5) / 1e{R} AS target_enc
FROM orders o LEFT JOIN e ON o.o_orderpriority = e.cat CROSS JOIN p
"""


def q_regression_eval_orders(spark, sf_dir):
    """Regression metrics for a per-priority group-mean predictor of
    o_totalprice — the predictor join, every moment and every metric
    replay exactly in SQL (single-row output)."""
    from flink_ml__spark.functions.evaluation import RegressionEvaluator

    orders = load_table(spark, "orders", sf_dir)
    pred = (orders.groupBy("o_orderpriority")
            .agg(F.avg("o_totalprice").alias("prediction")))
    frame = (orders.join(F.broadcast(pred), "o_orderpriority")
             .select(F.col("o_totalprice").alias("label"), "prediction"))
    out = RegressionEvaluator().evaluate(frame)
    return out.select(
        "n", _fq("mae").alias("mae"),
        _fq("mse", 3).alias("mse"),
        _fq("rmse").alias("rmse"),
        _fq("r2").alias("r2"),
        _fq("mape").alias("mape"),
        _fq("max_error").alias("max_error"))


ORACLE_REGRESSION_EVAL = f"""
WITH p AS (SELECT o_orderpriority, avg(o_totalprice) AS pred
           FROM orders GROUP BY 1),
j AS (SELECT o.o_totalprice::DOUBLE AS y, p.pred::DOUBLE AS yhat
      FROM orders o JOIN p USING (o_orderpriority)),
a AS (SELECT count(*) AS n,
             avg(abs(yhat - y)) AS mae,
             avg((yhat - y) * (yhat - y)) AS mse,
             max(abs(yhat - y)) AS max_error,
             sum(y) AS sy, sum(y * y) AS syy,
             sum((yhat - y) * (yhat - y)) AS ss_res,
             avg(CASE WHEN y <> 0 THEN abs((yhat - y) / y) END) AS mape
      FROM j)
SELECT n, floor((mae) * 1e{R} + 0.5) / 1e{R} AS mae, floor((mse) * 1e3 + 0.5) / 1e3 AS mse,
       floor((sqrt(mse)) * 1e{R} + 0.5) / 1e{R} AS rmse,
       floor((CASE WHEN syy - sy * sy / n > 0
                  THEN 1.0 - ss_res / (syy - sy * sy / n) END) * 1e{R} + 0.5) / 1e{R} AS r2,
       floor((mape) * 1e{R} + 0.5) / 1e{R} AS mape, floor((max_error) * 1e{R} + 0.5) / 1e{R} AS max_error
FROM a
"""


def q_silhouette_lineitem(spark, sf_dir):
    """Centroid-based (simplified) silhouette of the l_returnflag
    'clustering' over (l_quantity, l_discount) — centroids, both
    distances, the per-point silhouette and the per-cluster +
    overall means all replay in SQL."""
    from flink_ml__spark.functions.evaluation import ClusteringEvaluator

    li = load_table(spark, "lineitem", sf_dir)
    ev = (ClusteringEvaluator()
          .setFeatureCols("l_quantity", "l_discount")
          .setPredictionCol("l_returnflag"))
    out = ev.evaluate(li)
    return out.select("cluster", "n",
                      _fq("mean_silhouette")
                      .alias("mean_silhouette"))


ORACLE_SILHOUETTE = f"""
WITH cent AS (
  SELECT avg(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS rx,
         avg(CASE WHEN l_returnflag = 'R' THEN l_discount END) AS ry,
         avg(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS ax,
         avg(CASE WHEN l_returnflag = 'A' THEN l_discount END) AS ay,
         avg(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS nx,
         avg(CASE WHEN l_returnflag = 'N' THEN l_discount END) AS ny
  FROM lineitem),
d AS (
  SELECT l_returnflag AS c,
         sqrt((l_quantity - rx) ^ 2 + (l_discount - ry) ^ 2) AS dr,
         sqrt((l_quantity - ax) ^ 2 + (l_discount - ay) ^ 2) AS da,
         sqrt((l_quantity - nx) ^ 2 + (l_discount - ny) ^ 2) AS dn
  FROM lineitem CROSS JOIN cent),
ab AS (
  SELECT c,
         CASE c WHEN 'R' THEN dr WHEN 'A' THEN da ELSE dn END AS a,
         CASE c WHEN 'R' THEN least(da, dn)
                WHEN 'A' THEN least(dr, dn)
                ELSE least(dr, da) END AS b
  FROM d),
sil AS (
  SELECT c, CASE WHEN greatest(a, b) > 0
                 THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
  FROM ab),
per AS (SELECT c AS cluster, count(*) AS n, avg(s) AS ms
        FROM sil GROUP BY 1),
tot AS (SELECT '__overall__' AS cluster, count(*) AS n, avg(s) AS ms
        FROM sil)
SELECT cluster, n, floor((ms) * 1e{R} + 0.5) / 1e{R} AS mean_silhouette FROM per
UNION ALL
SELECT cluster, n, floor((ms) * 1e{R} + 0.5) / 1e{R} AS mean_silhouette FROM tot
"""


def q_kmeans_embeddings_clusters(spark, sf_dir):
    """Partition-invariant gate for the seeded-iterative KMeans (the
    free per-cluster sizes are pytest-only): emits (a) any row whose
    prediction is outside [0, k), (b) a sentinel if per-cluster sizes
    do not sum back to the input count, (c) a sentinel if more than k
    distinct clusters appear. Complementary to
    ``kmeans_invariants_embeddings`` (prediction == argmin distance
    via an independent numpy path). Expected EMPTY; WHERE-false
    oracle makes this hash-checked."""
    from flink_ml__spark.operators.kmeans import KMeans

    k = 4
    emb = load_table(spark, "embeddings", sf_dir)
    model = (KMeans().setK(k).setSeed(42).setMaxIter(10)
             .setFeaturesCol("embedding").fit(emb))
    out = model.transform(emb)
    out_of_range = (out.filter((F.col("prediction") < 0)
                               | (F.col("prediction") >= k))
                    .select("vec_id",
                            F.lit("prediction_out_of_range")
                            .alias("violation")))
    sizes = out.groupBy("prediction").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    total = emb.select(F.count(F.lit(1)).alias("__t"))
    sums = sizes.agg(F.sum("cluster_size").alias("__s"),
                     F.count(F.lit(1)).alias("__k"))
    sentinels = (sums.crossJoin(total)
                 .filter((F.col("__s") != F.col("__t"))
                         | (F.col("__k") > k))
                 .select(F.lit(-1).cast("long").alias("vec_id"),
                         F.lit("partition_broken").alias("violation")))
    return out_of_range.unionByName(sentinels)


ORACLE_KMEANS_PARTITION = """
SELECT vec_id::BIGINT AS vec_id, '' AS violation
FROM embeddings WHERE false
"""


def q_kmeans_invariants_embeddings(spark, sf_dir):
    """Hard gate for the seeded-iterative KMeans: emits every point
    whose model prediction (pure-Catalyst folded-literal argmin) is
    NOT a nearest final centroid when distances are recomputed through
    an INDEPENDENT numpy path (Arrow batch, ‖x−c‖² = −2x·C + ‖C‖²
    matmul — different arithmetic, different code), with a 1e-9
    near-tie tolerance; plus any prediction outside [0, k). Expected
    EMPTY; WHERE-false oracle makes this a count/hash-checked row."""
    import numpy as np
    import pandas as pd

    from flink_ml__spark.operators.kmeans import KMeans

    emb = load_table(spark, "embeddings", sf_dir)
    model = (KMeans().setK(4).setSeed(42).setMaxIter(10)
             .setFeaturesCol("embedding").fit(emb))
    out = model.transform(emb).select("vec_id", "embedding", "prediction")
    C = np.asarray(model.centroids)

    def _excess(embs, preds):
        X = np.stack(embs.apply(lambda v: np.asarray(v, dtype=float)))
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
        own = d[np.arange(len(X)), preds.to_numpy()]
        return pd.Series(own - d.min(1))

    # real (non-string) hints: the module-level `from __future__ import
    # annotations` would otherwise stringify them, which pandas_udf
    # cannot introspect
    _excess.__annotations__ = {"embs": pd.Series, "preds": pd.Series,
                               "return": pd.Series}
    excess = F.pandas_udf(_excess, "double")

    bad = (F.col("prediction") < 0) | (F.col("prediction") >= len(C))
    return (out.withColumn("__excess", excess("embedding", "prediction"))
            .filter(bad | (F.col("__excess") > 1e-9))
            .select("vec_id", "prediction",
                    _fq("__excess").alias("excess")))


ORACLE_KMEANS_INVARIANTS = """
SELECT vec_id::BIGINT AS vec_id, 0::INT AS prediction, 0.0 AS excess
FROM embeddings WHERE false
"""


_TS_BINS_SQL = """
d AS (SELECT value::DOUBLE AS x, (event_type = 'click') AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
b AS (SELECT min(x) AS lo, max(x) AS hi FROM d),
h AS (SELECT CASE WHEN hi - lo <= 0 THEN 0
             ELSE least(floor((x - lo) / (hi - lo) * 1024)::INT, 1023)
             END AS bin,
             sum(a::INT)::BIGINT AS ca,
             sum((NOT a)::INT)::BIGINT AS cb
      FROM d CROSS JOIN b GROUP BY 1),
n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM h)
"""


def q_ks_test_events(spark, sf_dir):
    """Binned two-sample Kolmogorov-Smirnov: click vs purchase value
    distributions — the pooled-range binning, both ECDFs, D and the
    Smirnov p all replay in SQL."""
    from flink_ml__spark.functions.stats import KolmogorovSmirnovTest

    ev = load_table(spark, "events", sf_dir)
    out = (KolmogorovSmirnovTest().setValueCol("value")
           .setGroupCol("event_type").setGroups("click", "purchase")
           .evaluate(ev))
    return out.select("n_a", "n_b",
                      _fq("d_stat").alias("d_stat"),
                      _fq("p_value").alias("p_value"))


ORACLE_KS_TEST = f"""
WITH {_TS_BINS_SQL},
c AS (SELECT sum(ca) OVER (ORDER BY bin) AS cum_a,
             sum(cb) OVER (ORDER BY bin) AS cum_b
      FROM h),
dd AS (SELECT max(abs(cum_a::DOUBLE / na - cum_b::DOUBLE / nb)) AS d
       FROM c CROSS JOIN n)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       floor((d) * 1e{R} + 0.5) / 1e{R} AS d_stat,
       floor((least(1.0, 2.0 * exp(-2.0 * d * d * (na * nb
             / (na + nb))))) * 1e{R} + 0.5) / 1e{R} AS p_value
FROM dd CROSS JOIN n
"""


def q_mwu_test_events(spark, sf_dir):
    """Binned Mann-Whitney U (midrank ties at bin granularity): click
    vs purchase values — the rank sums, U, the tie-corrected normal z
    and the 5% verdict all replay in SQL."""
    from flink_ml__spark.functions.stats import MannWhitneyUTest

    ev = load_table(spark, "events", sf_dir)
    out = (MannWhitneyUTest().setValueCol("value")
           .setGroupCol("event_type").setGroups("click", "purchase")
           .evaluate(ev))
    return out.select("n_a", "n_b",
                      _fq("u_stat", 2).alias("u_stat"),
                      _fq("rank_sum_a", 2).alias("rank_sum_a"),
                      _fq("z_stat").alias("z_stat"),
                      "significant")


ORACLE_MWU_TEST = f"""
WITH {_TS_BINS_SQL},
c AS (SELECT ca, cb, ca + cb AS cnt,
             sum(ca + cb) OVER (ORDER BY bin) - (ca + cb) AS before
      FROM h),
r AS (SELECT sum(ca * (before + (cnt + 1) / 2.0)) AS rank_a,
             sum(cnt ^ 3 - cnt) AS tie
      FROM c),
s AS (SELECT na, nb, na + nb AS nn, rank_a, tie,
             rank_a - na * (na + 1) / 2.0 AS u
      FROM r CROSS JOIN n),
z AS (SELECT na, nb, u, rank_a,
             CASE WHEN nn > 1 AND (na * nb / 12.0)
                       * ((nn + 1) - tie / (nn * (nn - 1.0))) > 0
                  THEN (u - na * nb / 2.0)
                       / sqrt((na * nb / 12.0)
                              * ((nn + 1) - tie / (nn * (nn - 1.0))))
                  END AS zs
      FROM s)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       floor((u) * 1e2 + 0.5) / 1e2 AS u_stat, floor((rank_a) * 1e2 + 0.5) / 1e2 AS rank_sum_a,
       floor((zs) * 1e{R} + 0.5) / 1e{R} AS z_stat,
       coalesce(abs(zs) > 1.96, false) AS significant
FROM z
"""


def q_anova_events(spark, sf_dir):
    """One-way ANOVA of event value across event types — per-group
    moments, both sums of squares, F and η² replay exactly in SQL."""
    from flink_ml__spark.functions.stats import AnovaFTest

    ev = load_table(spark, "events", sf_dir)
    out = (AnovaFTest().setValueCol("value").setGroupCol("event_type")
           .evaluate(ev))
    return out.select("k_groups", "n",
                      _fq("f_stat").alias("f_stat"),
                      "df_between", "df_within",
                      _fq("eta_sq").alias("eta_sq"))


ORACLE_ANOVA = f"""
WITH per AS (
  SELECT event_type AS g, count(value)::BIGINT AS n,
         sum(value::DOUBLE) AS s, sum(value::DOUBLE ^ 2) AS ss
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1),
tot AS (
  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
         sum(s) AS sy, sum(ss) AS syy,
         sum(ss - s * s / n) AS ss_w
  FROM per)
SELECT k AS k_groups, n,
       floor((CASE WHEN n - k > 0 AND ss_w / (n - k) > 0 AND k > 1
                  THEN ((syy - sy * sy / n) - ss_w) / (k - 1)
                       / (ss_w / (n - k)) END) * 1e{R} + 0.5) / 1e{R} AS f_stat,
       k - 1 AS df_between, n - k AS df_within,
       floor((CASE WHEN syy - sy * sy / n > 0
                  THEN ((syy - sy * sy / n) - ss_w)
                       / (syy - sy * sy / n) END) * 1e{R} + 0.5) / 1e{R} AS eta_sq
FROM tot
"""


def q_ks_window_events(spark, sf_dir):
    """Windowed two-sample KS vs the full-table reference with a 1.5×
    scale planted on every 7th day (same plant as the PSI window gate)
    — the reference quantile grid (+ max point), the reference ECDF,
    every window's cumulative counts, D and the Smirnov p all replay
    in SQL. The SAME code path runs on an unbounded stream
    (`streaming.stream_ks_monitor`, parity-tested)."""
    from flink_ml__spark.streaming.online import stream_ks_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    cur = ev.withColumn("value",
                        F.when(day % 7 == 3, F.col("value") * 1.5)
                         .otherwise(F.col("value")))
    out = stream_ks_monitor(cur, "ts", "value", reference=ev,
                            num_buckets=8, window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "n_rows",
                      _fq("d_stat").alias("d_stat"),
                      _fq("p_value").alias("p_value"))


def _oracle_window_ks() -> str:
    k = 8
    pcts = ", ".join(repr(i / k) for i in range(1, k))
    # edge list: the k-1 interior quantiles plus the reference max,
    # rounded to 6 dp exactly as the monitor rounds its fitted edges
    # (pins cross-engine tie behavior when an edge IS a data value)
    edges = [f"floor((e[{i}]) * 1e6 + 0.5) / 1e6" for i in range(1, k)] + ["floor((mx) * 1e6 + 0.5) / 1e6"]
    ref_counts = ", ".join(
        f"sum((value <= {e})::INT)::BIGINT AS rc{j}"
        for j, e in enumerate(edges))
    win_counts = ", ".join(
        f"sum((v <= {e})::INT)::BIGINT AS wc{j}"
        for j, e in enumerate(edges))
    terms = ", ".join(
        f"abs(wc{j}::DOUBLE / n - rc{j}::DOUBLE / rn)"
        for j in range(len(edges)))
    return f"""
WITH q AS (SELECT quantile_cont(value, [{pcts}]) AS e,
                  max(value) AS mx, count(value)::BIGINT AS rn
           FROM events WHERE ts IS NOT NULL),
ref AS (SELECT {ref_counts} FROM events CROSS JOIN q
        WHERE ts IS NOT NULL),
cur AS (SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS win_us,
          CASE WHEN (epoch_us(ts) // {_DAY_US}) % 7 = 3
               THEN value * 1.5 ELSE value END AS v
        FROM events WHERE ts IS NOT NULL),
w AS (SELECT win_us, count(v)::BIGINT AS n, {win_counts}
      FROM cur CROSS JOIN q GROUP BY 1),
d AS (SELECT win_us, n,
        CASE WHEN n > 0 THEN greatest({terms}) END AS ds
      FROM w CROSS JOIN ref CROSS JOIN q)
SELECT win_us, n AS n_rows, floor((ds) * 1e{R} + 0.5) / 1e{R} AS d_stat,
       floor((least(1.0, 2.0 * exp(-2.0 * ds * ds
             * (n * (SELECT rn FROM q)
                / (n + (SELECT rn FROM q)))))) * 1e{R} + 0.5) / 1e{R} AS p_value
FROM d
"""


ORACLE_KS_WINDOW = _oracle_window_ks()


def q_feature_hash_events(spark, sf_dir):
    """Hashing-trick encoding of event_type and user_id into 4096
    buckets — the column-salted md5 recipe replays verbatim in SQL."""
    from flink_ml__spark.functions.encoding import FeatureHasher

    ev = load_table(spark, "events", sf_dir)
    out = (FeatureHasher().setInputCols("event_type", "user_id")
           .setNumFeatures(4096).transform(ev))
    return out.select("event_id", "event_type_hash", "user_id_hash")


ORACLE_FEATURE_HASH = """
SELECT event_id,
       (('0x' || substring(md5('fh:event_type:' || event_type), 1, 15))
        ::BIGINT % 4096)::INT AS event_type_hash,
       (('0x' || substring(md5('fh:user_id:' || user_id), 1, 15))
        ::BIGINT % 4096)::INT AS user_id_hash
FROM events
"""


def q_mad_outliers_orders(spark, sf_dir):
    """Median/MAD robust z-scores for order totals — both quantile
    fits and the scaled flagging replay via quantile_cont."""
    from flink_ml__spark.functions.feature_gen import MadOutlierDetector

    orders = load_table(spark, "orders", sf_dir)
    model = MadOutlierDetector().setInputCol("o_totalprice").fit(orders)
    return (model.transform(orders)
            .select("o_orderkey",
                    _fq("robust_z").alias("robust_z"),
                    "robust_z_outlier"))


ORACLE_MAD_OUTLIERS = f"""
WITH m AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders),
d AS (SELECT quantile_cont(abs(o_totalprice - med), 0.5) AS mad
      FROM orders CROSS JOIN m)
SELECT o_orderkey,
       floor(((o_totalprice - med) / (1.4826 * mad)) * 1e{R} + 0.5) / 1e{R} AS robust_z,
       CASE WHEN o_totalprice IS NULL THEN NULL
            ELSE abs((o_totalprice - med) / (1.4826 * mad)) > 3.5
            END AS robust_z_outlier
FROM orders CROSS JOIN m CROSS JOIN d
"""


def q_transitions_events(spark, sf_dir):
    """First-order Markov transitions over per-user event sequences —
    the keyed lead window, the pair counts and the row-normalized
    probabilities replay exactly in SQL."""
    from flink_ml__spark.functions.timeseries import TransitionMatrix

    ev = load_table(spark, "events", sf_dir)
    out = TransitionMatrix().transform(ev)
    return out.select("state", "next_state", "n",
                      _fq("prob").alias("prob"))


ORACLE_TRANSITIONS = f"""
WITH base AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL),
p AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_type) AS next_state
  FROM base),
c AS (SELECT state, next_state, count(*)::BIGINT AS n
      FROM p WHERE next_state IS NOT NULL GROUP BY 1, 2),
t AS (SELECT state, sum(n) AS tot FROM c GROUP BY 1)
SELECT c.state, c.next_state, c.n,
       floor((c.n::DOUBLE / t.tot) * 1e{R} + 0.5) / 1e{R} AS prob
FROM c JOIN t USING (state)
"""


def q_rare_collapse_documents(spark, sf_dir):
    """Long-tail language collapse at minCount=70 — the kept
    vocabulary and the collapse rule replay as a HAVING + CASE."""
    from flink_ml__spark.functions.encoding import RareCategoryCollapser

    docs = load_table(spark, "documents", sf_dir)
    model = (RareCategoryCollapser().setInputCol("lang")
             .setMinCount(70).fit(docs))
    return model.transform(docs).select("doc_id", "collapsed")


ORACLE_RARE_COLLAPSE = """
WITH k AS (SELECT lang FROM documents WHERE lang IS NOT NULL
           GROUP BY 1 HAVING count(*) >= 70)
SELECT doc_id,
       CASE WHEN lang IS NULL THEN NULL
            WHEN lang IN (SELECT lang FROM k) THEN lang
            ELSE '__other__' END AS collapsed
FROM documents
"""


def q_table_profile_orders(spark, sf_dir):
    """One-pass per-column profile of the orders key/status columns
    (bigint + varchar only — double/timestamp string casts are
    engine-specific) — every statistic replays as a per-column
    UNION ALL."""
    from flink_ml__spark.functions.linkage import TableProfiler

    orders = load_table(spark, "orders", sf_dir)
    out = (TableProfiler()
           .setColumns("o_orderkey", "o_custkey", "o_orderstatus",
                       "o_orderpriority")
           .transform(orders))
    return out.select("column", "n", "n_null",
                      _fq("null_frac").alias("null_frac"),
                      "n_distinct", "min_value", "max_value",
                      _fq("mean_value").alias("mean_value"))


def _oracle_table_profile() -> str:
    def one(c, numeric):
        mean = (f"floor((avg({c}::DOUBLE)) * 1e{R} + 0.5) / 1e{R}" if numeric
                else "NULL::DOUBLE")
        return f"""
SELECT '{c}' AS "column", count(*)::BIGINT AS n,
       sum(({c} IS NULL)::INT)::BIGINT AS n_null,
       floor((sum(({c} IS NULL)::INT)::DOUBLE / count(*)) * 1e{R} + 0.5) / 1e{R}
         AS null_frac,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min({c})::VARCHAR AS min_value, max({c})::VARCHAR AS max_value,
       {mean} AS mean_value
FROM orders"""

    parts = [one("o_orderkey", True), one("o_custkey", True),
             one("o_orderstatus", False), one("o_orderpriority", False)]
    return "\nUNION ALL\n".join(parts)


ORACLE_TABLE_PROFILE = _oracle_table_profile()


_DHASH_SRC = """(SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 25 = 0) planted"""

_DHASH_CTES = f"""
{_fake_bytes_ctes(256, _DHASH_SRC)},
dh_grid AS (
  SELECT i, j, (i * 2) * 16 + (j * 16 // 9) AS pos
  FROM range(0, 8) t(i), range(0, 9) u(j)),
dh_small AS (
  SELECT fb.doc_id, g.i, g.j, fb.b
  FROM fp_byte fb JOIN dh_grid g ON fb.pos = g.pos),
dh_bits AS (
  SELECT a.doc_id, a.i, a.j, (a.b > c.b)::INT AS bit
  FROM dh_small a
  JOIN dh_small c ON a.doc_id = c.doc_id AND a.i = c.i
                 AND c.j = a.j + 1
  WHERE a.j < 8),
dh_bands AS (
  SELECT doc_id, (i * 8 + j) // 16 AS k,
         sum(bit * (1::BIGINT << (15 - ((i * 8 + j) % 16))))::INT AS v
  FROM dh_bits GROUP BY 1, 2),
dh AS (
  SELECT doc_id,
         max(CASE WHEN k = 0 THEN v END) AS b0,
         max(CASE WHEN k = 1 THEN v END) AS b1,
         max(CASE WHEN k = 2 THEN v END) AS b2,
         max(CASE WHEN k = 3 THEN v END) AS b3
  FROM dh_bands GROUP BY doc_id)
"""


def _dhash_payloads(spark, sf_dir):
    """Document payloads with planted exact duplicates: every 25th doc
    re-enters under a shifted id with the same bytes, so the pair gate
    has guaranteed distance-0 structure (the raw corpus has no exact
    text dups). The oracle plants the identical union."""
    docs = load_table(spark, "documents", sf_dir)
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 25 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(1000000)))
    return planted.select("doc_id",
                          F.encode("text", "UTF-8").alias("payload"))


def q_image_dhash_documents(spark, sf_dir):
    """Perceptual dHash fingerprints of the stub-decoded document
    payloads — the keystream decode, the 8×9 nearest-neighbor grid,
    every bit comparison, the band packing and the hex rendering all
    replay in SQL."""
    from flink_ml__spark.functions.multimodal import (
        ImageDecoder,
        PerceptualImageHasher,
    )

    decoded = (ImageDecoder().setHeight(16).setWidth(16)
               .transform(_dhash_payloads(spark, sf_dir)))
    out = PerceptualImageHasher().transform(decoded)
    return out.select("doc_id", "dhash_hex", "dhash_b0", "dhash_b1",
                      "dhash_b2", "dhash_b3")


ORACLE_IMAGE_DHASH = f"""
WITH {_DHASH_CTES}
SELECT doc_id,
       format('{{:04x}}', b0) || format('{{:04x}}', b1)
       || format('{{:04x}}', b2) || format('{{:04x}}', b3) AS dhash_hex,
       b0 AS dhash_b0, b1 AS dhash_b1, b2 AS dhash_b2, b3 AS dhash_b3
FROM dh
"""


def q_image_dup_pairs_documents(spark, sf_dir):
    """Banded-hamming image near-dup pairs at distance ≤ 2 — the
    corpus's planted duplicate texts stub-decode to identical images,
    so distance-0 pairs are guaranteed; the band candidate join and
    the xor bit_count verify replay in SQL."""
    from flink_ml__spark.functions.multimodal import (
        ImageDecoder,
        PerceptualImageHasher,
    )

    decoded = (ImageDecoder().setHeight(16).setWidth(16)
               .transform(_dhash_payloads(spark, sf_dir)))
    hasher = PerceptualImageHasher()
    hashed = hasher.transform(decoded)
    return hasher.duplicate_pairs(hashed, "doc_id", max_distance=2)


ORACLE_IMAGE_DUP_PAIRS = f"""
WITH {_DHASH_CTES},
pair AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (bit_count(xor(a.b0::BIGINT, b.b0::BIGINT))
          + bit_count(xor(a.b1::BIGINT, b.b1::BIGINT))
          + bit_count(xor(a.b2::BIGINT, b.b2::BIGINT))
          + bit_count(xor(a.b3::BIGINT, b.b3::BIGINT)))::INT AS hamming
  FROM dh a JOIN dh b
    ON a.doc_id < b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
SELECT id_a, id_b, hamming FROM pair WHERE hamming <= 2
"""


def q_random_projection_embeddings(spark, sf_dir):
    """Johnson-Lindenstrauss ±1 projection of the 64-dim embeddings
    onto 4 dims (seed 42) — the md5-derived Achlioptas sign matrix and
    every dot product replay exactly in SQL."""
    from flink_ml__spark.functions.similarity import RandomProjection

    emb = load_table(spark, "embeddings", sf_dir)
    out = (RandomProjection().setOutputDim(4).setSeed(42)
           .transform(emb))
    p = F.col("projected")
    return out.select(
        "vec_id", *[_fq(p[j]).alias(f"p{j}") for j in range(4)])


ORACLE_RANDOM_PROJECTION = f"""
WITH sg AS (
  SELECT j, i,
         CASE WHEN ('0x' || substr(
                md5('rp:42:' || j || ':' || i), 1, 1))::INT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM range(0, 4) t(j), range(0, 64) u(i)),
proj AS (
  SELECT m.vec_id, sg.j,
         sum(m.embedding[sg.i + 1]::DOUBLE * sg.s) / sqrt(4) AS v
  FROM embeddings m CROSS JOIN sg
  GROUP BY 1, 2)
SELECT vec_id,
       floor((max(CASE WHEN j = 0 THEN v END)) * 1e{R} + 0.5) / 1e{R} AS p0,
       floor((max(CASE WHEN j = 1 THEN v END)) * 1e{R} + 0.5) / 1e{R} AS p1,
       floor((max(CASE WHEN j = 2 THEN v END)) * 1e{R} + 0.5) / 1e{R} AS p2,
       floor((max(CASE WHEN j = 3 THEN v END)) * 1e{R} + 0.5) / 1e{R} AS p3
FROM proj GROUP BY vec_id
"""


def q_ohlc_events(spark, sf_dir):
    """Per-type daily OHLC candles over event values — the bucket
    arithmetic, the (time, value)-ordered open/close and the extrema
    replay exactly in SQL."""
    from flink_ml__spark.functions.timeseries import OhlcRollup

    ev = load_table(spark, "events", sf_dir)
    out = (OhlcRollup().setBucketWidthSec(86400.0).transform(ev))
    return out.select("event_type",
                      F.unix_micros("bucket_start").alias("bucket_us"),
                      _fq("open").alias("open"),
                      _fq("high").alias("high"),
                      _fq("low").alias("low"),
                      _fq("close").alias("close"),
                      "n_events")


ORACLE_OHLC = f"""
WITH base AS (
  SELECT event_type AS k, value::DOUBLE AS v, epoch_us(ts) AS us
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL),
b AS (SELECT k, us - us % {_DAY_US} AS bs, v, us FROM base),
r AS (SELECT k, bs, v,
        row_number() OVER (PARTITION BY k, bs ORDER BY us, v) AS ra,
        row_number() OVER (PARTITION BY k, bs ORDER BY us DESC, v DESC)
          AS rd
      FROM b)
SELECT k AS event_type, bs AS bucket_us,
       floor((max(CASE WHEN ra = 1 THEN v END)) * 1e{R} + 0.5) / 1e{R} AS open,
       floor((max(v)) * 1e{R} + 0.5) / 1e{R} AS high, floor((min(v)) * 1e{R} + 0.5) / 1e{R} AS low,
       floor((max(CASE WHEN rd = 1 THEN v END)) * 1e{R} + 0.5) / 1e{R} AS close,
       count(*)::BIGINT AS n_events
FROM r GROUP BY 1, 2
"""


def q_isotonic_invariants_documents(spark, sf_dir):
    """Hard gate for the isotonic calibrator (PAV has no closed-form
    SQL): emits one row per violated defining property of the fitted
    map over the length→English confidence frame — (a) a score pair
    where calibration breaks monotonicity (checked via lag over the
    DISTINCT-score table, bounded), (b) a calibrated value outside
    [0, 1], (c) a global positive-rate mismatch beyond 1e-9 (PAV is
    mean-preserving by construction). Expected EMPTY; WHERE-false
    oracle makes this a count/hash-checked row."""
    from pyspark.sql import Window

    from flink_ml__spark.functions.evaluation import IsotonicCalibrator

    frame = _calibration_frame(spark, sf_dir)
    model = IsotonicCalibrator().setNumBins(1024).fit(frame)
    out = model.transform(frame)

    per_score = (out.groupBy("score")
                 .agg(F.min("calibrated").alias("cal_min"),
                      F.max("calibrated").alias("cal_max")))
    w = Window.orderBy("score")  # distinct scores: bounded model table
    mono = (per_score
            .withColumn("prev", F.lag("cal_min").over(w))
            .filter((F.col("cal_min") < F.col("prev") - 1e-12)
                    | (F.col("cal_min") != F.col("cal_max")))
            .select(F.lit("monotone").alias("violation"),
                    F.col("score").cast("double").alias("detail")))
    rng = (out.filter((F.col("calibrated") < -1e-12)
                      | (F.col("calibrated") > 1 + 1e-12))
           .select(F.lit("range").alias("violation"),
                   F.col("calibrated").alias("detail")))
    means = out.agg(F.avg("calibrated").alias("mc"),
                    F.avg(F.col("label").cast("double")).alias("ml"))
    mean_v = (means.filter(F.abs(F.col("mc") - F.col("ml")) > 1e-9)
              .select(F.lit("mean").alias("violation"),
                      (F.col("mc") - F.col("ml")).alias("detail")))
    return mono.unionByName(rng).unionByName(mean_v)


ORACLE_ISOTONIC_INVARIANTS = """
SELECT 'x' AS violation, 0.0 AS detail FROM documents WHERE false
"""


def q_assemble_features_lineitem(spark, sf_dir):
    """Assemble (quantity, discount, tax) into one feature array —
    element order and the double casts replay by projecting the
    array back out positionally."""
    from flink_ml__spark.functions.feature_gen import FeatureAssembler

    li = load_table(spark, "lineitem", sf_dir)
    out = (FeatureAssembler()
           .setInputCols("l_quantity", "l_discount", "l_tax")
           .setHandleInvalid("keep").transform(li))
    f = F.col("features")
    return out.select("l_orderkey", "l_linenumber",
                      *[_fq(f[i]).alias(f"f{i}") for i in range(3)])


ORACLE_ASSEMBLE = f"""
SELECT l_orderkey, l_linenumber,
       floor((l_quantity::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS f0,
       floor((l_discount::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS f1,
       floor((l_tax::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS f2
FROM lineitem
"""


def q_grouped_scale_events(spark, sf_dir):
    """Per-event-type z-scaling of the value metric — the per-group
    moments and the normalized projection replay exactly (single-
    valued groups divide by 1)."""
    from flink_ml__spark.functions.feature_gen import GroupedStandardScaler

    ev = load_table(spark, "events", sf_dir)
    model = (GroupedStandardScaler().setInputCol("value")
             .setGroupCol("event_type").fit(ev))
    return (model.transform(ev)
            .select("event_id",
                    _fq("scaled_value").alias("scaled_value")))


ORACLE_GROUPED_SCALE = f"""
WITH m AS (
  SELECT event_type AS g, avg(value::DOUBLE) AS mu,
         stddev_samp(value::DOUBLE) AS sd
  FROM events WHERE value IS NOT NULL GROUP BY 1)
SELECT e.event_id,
       floor((CASE WHEN e.value IS NOT NULL AND m.mu IS NOT NULL
                  THEN (e.value - m.mu)
                       / (CASE WHEN m.sd IS NULL OR m.sd = 0
                               THEN 1.0 ELSE m.sd END) END) * 1e{R} + 0.5) / 1e{R}
         AS scaled_value
FROM events e LEFT JOIN m ON e.event_type IS NOT DISTINCT FROM m.g
"""


def q_platt_invariants_documents(spark, sf_dir):
    """Hard gate for the Platt sigmoid calibrator (Newton fit has no
    SQL form): over the length→English confidence frame, emits one row
    per violated defining property — (a) a calibrated value outside
    (0, 1), (b) a score mapping to two different outputs (σ is a
    function), (c) any pair of adjacent distinct scores breaking
    STRICT one-directional monotonicity (σ(a·s+b) is strictly monotone
    for a ≠ 0 — consecutive inversions in BOTH directions are
    impossible). Expected EMPTY; WHERE-false oracle."""
    from pyspark.sql import Window

    from flink_ml__spark.functions.evaluation import PlattCalibrator

    frame = _calibration_frame(spark, sf_dir)
    model = PlattCalibrator().setNumBins(1024).fit(frame)
    out = model.transform(frame)

    rng = (out.filter((F.col("calibrated") <= 0)
                      | (F.col("calibrated") >= 1))
           .select(F.lit("range").alias("violation"),
                   F.col("calibrated").alias("detail")))
    per_score = (out.groupBy("score")
                 .agg(F.min("calibrated").alias("lo"),
                      F.max("calibrated").alias("hi")))
    func = (per_score.filter(F.col("lo") != F.col("hi"))
            .select(F.lit("functional").alias("violation"),
                    F.col("score").cast("double").alias("detail")))
    w = Window.orderBy("score")  # distinct scores: bounded table
    steps = (per_score
             .withColumn("prev", F.lag("lo").over(w))
             .filter(F.col("prev").isNotNull())
             .select((F.col("lo") > F.col("prev") + 1e-15)
                     .alias("up"),
                     (F.col("lo") < F.col("prev") - 1e-15)
                     .alias("down")))
    dirs = steps.agg(F.max("up").alias("any_up"),
                     F.max("down").alias("any_down"))
    mono = (dirs.filter(F.col("any_up") & F.col("any_down"))
            .select(F.lit("monotone").alias("violation"),
                    F.lit(0.0).alias("detail")))
    return rng.unionByName(func).unionByName(mono)


ORACLE_PLATT_INVARIANTS = """
SELECT 'x' AS violation, 0.0 AS detail FROM documents WHERE false
"""


def q_quantile_match_events(spark, sf_dir):
    """Quantile-map purchase values onto the click distribution
    (4-segment grid) — both grids and the piecewise-linear map replay
    exactly in SQL (grids pinned at 6 dp on both engines)."""
    from flink_ml__spark.functions.feature_gen import QuantileMatcher

    ev = load_table(spark, "events", sf_dir)
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    model = (QuantileMatcher().setInputCol("value").setNumBuckets(4)
             .fit(ref))
    return (model.transform(cur)
            .select("event_id", _fq("matched").alias("matched")))


def _oracle_quantile_match() -> str:
    pcts = "[0.0, 0.25, 0.5, 0.75, 1.0]"
    seg = []
    for j in range(2, 6):
        seg.append(
            f"WHEN value <= c.g[{j}] THEN r.g[{j - 1}] + "
            f"(r.g[{j}] - r.g[{j - 1}]) * (value - c.g[{j - 1}])"
            f" / (c.g[{j}] - c.g[{j - 1}])")
    chain = "\n         ".join(seg)
    return f"""
WITH r AS (SELECT list_transform(quantile_cont(value, {pcts}),
                                 x -> floor((x) * 1e6 + 0.5) / 1e6) AS g
           FROM events
           WHERE event_type = 'click' AND value IS NOT NULL),
c AS (SELECT list_transform(quantile_cont(value, {pcts}),
                            x -> floor((x) * 1e6 + 0.5) / 1e6) AS g
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL)
SELECT event_id,
       floor((CASE WHEN value IS NULL THEN NULL
             WHEN value <= c.g[1] THEN r.g[1]
         {chain}
             ELSE r.g[5] END) * 1e{R} + 0.5) / 1e{R} AS matched
FROM events CROSS JOIN r CROSS JOIN c
WHERE event_type = 'purchase'
"""


ORACLE_QUANTILE_MATCH = _oracle_quantile_match()


def q_regression_window_events(spark, sf_dir):
    """Windowed regression drift of a per-type mean predictor against
    the live value — the predictor join, every windowed moment and
    every metric replay exactly in SQL. The SAME code path runs on an
    unbounded stream (`streaming.stream_regression_monitor`,
    parity-tested)."""
    from flink_ml__spark.streaming.online import stream_regression_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull())
    pred = (ev.groupBy("event_type")
            .agg(F.avg("value").alias("pred")))
    frame = ev.join(F.broadcast(pred), "event_type")
    out = stream_regression_monitor(frame, "ts", "value", "pred",
                                    window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "n", _fq("mae").alias("mae"),
                      _fq("rmse").alias("rmse"),
                      _fq("bias").alias("bias"),
                      _fq("r2").alias("r2"))


ORACLE_REGRESSION_WINDOW = f"""
WITH p AS (SELECT event_type, avg(value::DOUBLE) AS pred
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
j AS (SELECT (epoch_us(e.ts) // {_DAY_US}) * {_DAY_US} AS win_us,
             e.value::DOUBLE AS y, p.pred
      FROM events e JOIN p USING (event_type)
      WHERE e.ts IS NOT NULL),
a AS (SELECT win_us,
             count(CASE WHEN y IS NOT NULL AND pred IS NOT NULL
                        THEN 1 END)::BIGINT AS n,
             avg(abs(pred - y)) AS mae,
             avg((pred - y) * (pred - y)) AS mse,
             avg(pred - y) AS bias,
             sum(y) AS sy, sum(y * y) AS syy,
             sum((pred - y) * (pred - y)) AS ssr
      FROM j GROUP BY 1)
SELECT win_us, n, floor((mae) * 1e{R} + 0.5) / 1e{R} AS mae,
       floor((sqrt(mse)) * 1e{R} + 0.5) / 1e{R} AS rmse, floor((bias) * 1e{R} + 0.5) / 1e{R} AS bias,
       floor((CASE WHEN syy - sy * sy / n > 0
                  THEN 1.0 - ssr / (syy - sy * sy / n) END) * 1e{R} + 0.5) / 1e{R} AS r2
FROM a
"""


def q_count_encode_documents(spark, sf_dir):
    """Normalized frequency encoding of the document language — the
    count aggregation and the share projection replay exactly."""
    from flink_ml__spark.functions.encoding import CountEncoder

    docs = load_table(spark, "documents", sf_dir)
    model = (CountEncoder().setInputCol("lang").setOutputCol("lang_freq")
             .fit(docs).setNormalize(True))
    return (model.transform(docs)
            .select("doc_id", _fq("lang_freq").alias("lang_freq")))


ORACLE_COUNT_ENCODE = f"""
WITH c AS (SELECT lang AS cat, count(*)::BIGINT AS n
           FROM documents WHERE lang IS NOT NULL GROUP BY 1),
t AS (SELECT sum(n) AS total FROM c)
SELECT d.doc_id,
       floor((CASE WHEN d.lang IS NULL THEN NULL
                  ELSE coalesce(c.n, 0)::DOUBLE / t.total END) * 1e{R} + 0.5) / 1e{R}
         AS lang_freq
FROM documents d LEFT JOIN c ON d.lang = c.cat CROSS JOIN t
"""


def q_anova_window_events(spark, sf_dir):
    """Per-day one-way ANOVA of event values across types (vocabulary
    fitted on the full table) — every window's group moments, F, dfs
    and η² replay exactly in SQL. The SAME code path runs on an
    unbounded stream (`streaming.stream_anova_monitor`,
    parity-tested)."""
    from flink_ml__spark.streaming.online import stream_anova_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull())
    out = stream_anova_monitor(ev, "ts", "value", "event_type",
                               reference=ev, window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "k_groups", "n",
                      _fq("f_stat").alias("f_stat"),
                      "df_between", "df_within",
                      _fq("eta_sq").alias("eta_sq"))


ORACLE_ANOVA_WINDOW = f"""
WITH base AS (
  SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS win_us,
         event_type AS g, value::DOUBLE AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_type IS NOT NULL),
per AS (SELECT win_us, g, count(*)::BIGINT AS n, sum(y) AS s,
               sum(y * y) AS q
        FROM base GROUP BY 1, 2),
w AS (SELECT win_us, count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
             sum(s) AS sy, sum(q) AS syy,
             sum(q - s * s / n) AS ssw
      FROM per GROUP BY 1)
SELECT win_us, k AS k_groups, n,
       floor((CASE WHEN n - k > 0 AND ssw / (n - k) > 0 AND k > 1
                  THEN ((syy - sy * sy / n) - ssw) / (k - 1)
                       / (ssw / (n - k)) END) * 1e{R} + 0.5) / 1e{R} AS f_stat,
       k - 1 AS df_between, n - k AS df_within,
       floor((CASE WHEN syy - sy * sy / n > 0
                  THEN ((syy - sy * sy / n) - ssw)
                       / (syy - sy * sy / n) END) * 1e{R} + 0.5) / 1e{R} AS eta_sq
FROM w
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# round-8 additions: interval union, ACF, rolling features, link
# prediction, k-core, encoding corruption, outlink graph
# ---------------------------------------------------------------------------


def q_interval_merge_events(spark, sf_dir):
    """IntervalMerger gate: synthesize per-event exposure intervals
    [ts, ts + (event_id % 120) s] and flatten each user's overlaps
    into maximal spans — the islands window pattern, exact SQL
    replay."""
    from flink_ml__spark.functions.sessions import IntervalMerger

    ev = _events(spark, sf_dir)
    iv = ev.select(
        "user_id", F.col("ts").alias("s"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts"))
            + (F.col("event_id") % 120) * 1_000_000).alias("e"))
    return (IntervalMerger().setKeyCol("user_id").setStartCol("s")
            .setEndCol("e").transform(iv))


ORACLE_INTERVAL_MERGE = """
WITH iv AS (SELECT user_id, ts AS s,
                   ts + to_seconds(event_id % 120) AS e
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
              AND event_id IS NOT NULL),
m AS (SELECT user_id, s, e,
             CASE WHEN max(e) OVER pre IS NULL
                    OR s > max(e) OVER pre THEN 1 ELSE 0 END AS nw
      FROM iv
      WINDOW pre AS (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)),
g AS (SELECT user_id, s, e,
             sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS span
      FROM m)
SELECT user_id, min(s) AS span_start, max(e) AS span_end,
       count(*) AS n_intervals
FROM g GROUP BY user_id, span
"""


def q_acf_events(spark, sf_dir):
    """AutocorrelationAnalyzer gate: hourly per-user value series,
    sample ACF at lags 1..4 — one window pass computes every lag."""
    from flink_ml__spark.functions.timeseries import (
        AutocorrelationAnalyzer,
    )

    ev = _events(spark, sf_dir)
    b = (ev.groupBy("user_id",
                    F.date_trunc("hour", "ts").alias("bk"))
         .agg(F.avg("value").alias("x")))
    out = (AutocorrelationAnalyzer().setKeyCol("user_id")
           .setTimeCol("bk").setValueCol("x").setMaxLag(4)
           .transform(b))
    return out.select("user_id", "lag", "n_pairs",
                      _fq("acf").alias("acf"))


def _acf_lag_select(lag: int) -> str:
    return f"""
SELECT user_id, {lag} AS lag, count(*) AS n_pairs,
       CASE WHEN min(den) > 0
            THEN floor((sum(dev * l{lag}) / min(den)) * 1e{R} + 0.5) / 1e{R} END AS acf
FROM dd WHERE l{lag} IS NOT NULL GROUP BY user_id"""


ORACLE_ACF = f"""
WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bk,
                  avg(value) AS x
           FROM events GROUP BY 1, 2),
f AS (SELECT * FROM b WHERE user_id IS NOT NULL
       AND bk IS NOT NULL AND x IS NOT NULL),
d AS (SELECT user_id, bk,
             x - avg(x) OVER (PARTITION BY user_id) AS dev
      FROM f),
dd AS (SELECT user_id, bk, dev,
              sum(dev * dev) OVER (PARTITION BY user_id) AS den,
              lag(dev, 1) OVER w AS l1, lag(dev, 2) OVER w AS l2,
              lag(dev, 3) OVER w AS l3, lag(dev, 4) OVER w AS l4
       FROM d WINDOW w AS (PARTITION BY user_id ORDER BY bk))
{' UNION ALL '.join(_acf_lag_select(i) for i in range(1, 5))}
"""


def q_rolling_features_events(spark, sf_dir):
    """RollingFeatureGenerator gate: hourly per-user series ->
    lags 1/2, trailing mean/std/min/max over 3 buckets, delta and
    pct_change — a single Window operator in the plan."""
    from flink_ml__spark.functions import RollingFeatureGenerator

    ev = _events(spark, sf_dir)
    b = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("ts").isNotNull())
         .groupBy("user_id", F.date_trunc("hour", "ts").alias("bk"))
         .agg(F.avg("value").alias("x")))
    out = (RollingFeatureGenerator().setKeyCol("user_id")
           .setTimeCol("bk").setValueCol("x").setLags([1, 2])
           .setWindows([3]).transform(b))
    return out.select(
        "user_id", "bk",
        _fq("x").alias("x"),
        _fq("lag_1").alias("lag_1"),
        _fq("lag_2").alias("lag_2"),
        _fq("roll_mean_3").alias("roll_mean_3"),
        _fq("roll_std_3").alias("roll_std_3"),
        _fq("roll_min_3").alias("roll_min_3"),
        _fq("roll_max_3").alias("roll_max_3"),
        _fq("delta").alias("delta"),
        _fq("pct_change").alias("pct_change"))


ORACLE_ROLLING_FEATURES = f"""
WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bk,
                  avg(value) AS x
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
r AS (SELECT user_id, bk, x,
             lag(x, 1) OVER w AS lag_1, lag(x, 2) OVER w AS lag_2,
             CASE WHEN count(x) OVER f3 = 3
                  THEN avg(x) OVER f3 END AS roll_mean_3,
             CASE WHEN count(x) OVER f3 = 3
                  THEN stddev_samp(x) OVER f3 END AS roll_std_3,
             CASE WHEN count(x) OVER f3 = 3
                  THEN min(x) OVER f3 END AS roll_min_3,
             CASE WHEN count(x) OVER f3 = 3
                  THEN max(x) OVER f3 END AS roll_max_3,
             x - lag(x, 1) OVER w AS delta,
             CASE WHEN lag(x, 1) OVER w <> 0
                  THEN (x - lag(x, 1) OVER w) / lag(x, 1) OVER w
             END AS pct_change
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY bk),
             f3 AS (PARTITION BY user_id ORDER BY bk
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
SELECT user_id, bk, floor((x) * 1e{R} + 0.5) / 1e{R} AS x,
       floor((lag_1) * 1e{R} + 0.5) / 1e{R} AS lag_1, floor((lag_2) * 1e{R} + 0.5) / 1e{R} AS lag_2,
       floor((roll_mean_3) * 1e{R} + 0.5) / 1e{R} AS roll_mean_3,
       floor((roll_std_3) * 1e{R} + 0.5) / 1e{R} AS roll_std_3,
       floor((roll_min_3) * 1e{R} + 0.5) / 1e{R} AS roll_min_3,
       floor((roll_max_3) * 1e{R} + 0.5) / 1e{R} AS roll_max_3,
       floor((delta) * 1e{R} + 0.5) / 1e{R} AS delta,
       floor((pct_change) * 1e{R} + 0.5) / 1e{R} AS pct_change
FROM r
"""


def _order_edges(spark, sf_dir, mod: int, keep: int):
    """Deterministic pseudo-random edge list both engines build
    identically from orders: (o_custkey % mod, o_orderkey % mod)."""
    o = load_table(spark, "orders", sf_dir)
    return (o.filter(F.col("o_orderkey") % keep == 0)
            .select((F.col("o_custkey") % mod).alias("src"),
                    (F.col("o_orderkey") % mod).alias("dst")))


_EDGE_SQL = """raw AS (SELECT o_custkey % {mod} AS a,
                   o_orderkey % {mod} AS b
            FROM orders WHERE o_orderkey % {keep} = 0),
und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        FROM raw
        WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b)"""


def q_link_prediction_orders(spark, sf_dir):
    """CommonNeighborsLinkPredictor gate: common-neighbor / Jaccard /
    Adamic-Adar scores for every non-adjacent 2-hop pair of the
    synthesized order graph."""
    from flink_ml__spark.functions.graph import (
        CommonNeighborsLinkPredictor,
    )

    edges = _order_edges(spark, sf_dir, 97, 7)
    out = CommonNeighborsLinkPredictor().transform(edges)
    return out.select("u", "v", "common_neighbors",
                      _fq("jaccard").alias("jaccard"),
                      _fq("adamic_adar").alias("adamic_adar"))


ORACLE_LINK_PREDICTION = f"""
WITH {_EDGE_SQL.format(mod=97, keep=7)},
adj AS (SELECT u AS w, v AS n FROM und
        UNION ALL SELECT v, u FROM und),
deg AS (SELECT w AS node, count(*) AS degree FROM adj GROUP BY 1),
piv AS (SELECT adj.w, adj.n, deg.degree
        FROM adj JOIN deg ON adj.w = deg.node),
wed AS (SELECT a.w, a.n AS u, b.n AS v, a.degree
        FROM piv a JOIN piv b ON a.w = b.w AND a.n < b.n),
sc AS (SELECT u, v, count(*) AS common_neighbors,
              sum(1.0 / ln(degree)) AS aa
       FROM wed GROUP BY 1, 2),
ne AS (SELECT sc.* FROM sc WHERE NOT EXISTS
        (SELECT 1 FROM und
         WHERE und.u = sc.u AND und.v = sc.v))
SELECT ne.u, ne.v, common_neighbors,
       floor((common_neighbors::DOUBLE
             / (du.degree + dv.degree - common_neighbors)) * 1e{R} + 0.5) / 1e{R} AS jaccard,
       floor((aa) * 1e{R} + 0.5) / 1e{R} AS adamic_adar
FROM ne
JOIN deg du ON ne.u = du.node
JOIN deg dv ON ne.v = dv.node
"""


def q_kcore_orders(spark, sf_dir):
    """KCoreExtractor gate: 3-core of the synthesized order graph
    (degrees 1..8 at sf0.01 — six real peeling rounds drop ~a quarter
    of the nodes). The k-core is unique, so the oracle replays the
    peeling as a fixed unroll of 24 rounds (excess rounds are
    no-ops)."""
    from flink_ml__spark.functions.graph import KCoreExtractor

    edges = _order_edges(spark, sf_dir, 211, 37)
    return KCoreExtractor().setK(3).transform(edges)


def _kcore_oracle_sql(k: int, rounds: int, mod: int, keep: int) -> str:
    # MATERIALIZED is load-bearing: each round references the prior
    # edge CTE twice, so inlined CTEs would expand the plan (and the
    # parquet scan count) exponentially in `rounds`
    parts = [_EDGE_SQL.format(mod=mod, keep=keep)
             + ",\ne0 AS MATERIALIZED (SELECT u, v FROM und)"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS degree "
            f"FROM (SELECT u AS node FROM e{p} "
            f"UNION ALL SELECT v FROM e{p}) GROUP BY 1)")
        parts.append(
            f"k{i} AS MATERIALIZED "
            f"(SELECT node FROM d{i} WHERE degree >= {k})")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e{p}.u, e{p}.v FROM e{p} "
            f"JOIN k{i} ku ON e{p}.u = ku.node "
            f"JOIN k{i} kv ON e{p}.v = kv.node)")
    return ("WITH " + ",\n".join(parts)
            + f"""
SELECT node, count(*) AS core_degree
FROM (SELECT u AS node FROM e{rounds}
      UNION ALL SELECT v FROM e{rounds})
GROUP BY 1""")


ORACLE_KCORE = _kcore_oracle_sql(3, 24, 211, 37)


def q_encoding_corruption_documents(spark, sf_dir):
    """EncodingCorruptionDetector gate: deterministic corruption
    injected identically in both engines (mojibake digraph on
    doc_id%7, U+FFFD on %13, two control chars on %17), then the
    regexp_count signal pass."""
    from flink_ml__spark.functions.text import (
        EncodingCorruptionDetector,
    )

    docs = load_table(spark, "documents", sf_dir)
    k = F.col("doc_id")
    extra = F.concat(
        F.when(k % 7 == 0, F.lit("\u00c3\u00a9")).otherwise(F.lit("")),
        F.when(k % 13 == 0, F.lit("\ufffd")).otherwise(F.lit("")),
        F.when(k % 17 == 0,
               F.lit("")).otherwise(F.lit("")))
    df = docs.select(
        "doc_id", F.concat(F.col("text"), extra).alias("text"))
    out = (EncodingCorruptionDetector().setThreshold(0.0005)
           .transform(df))
    return out.select("doc_id", "n_replacement", "n_mojibake",
                      "n_control",
                      _fq("corrupt_ratio")
                       .alias("corrupt_ratio"),
                      "is_corrupt")


def _encoding_oracle() -> str:
    from flink_ml__spark.functions.text import (
        EncodingCorruptionDetector as _E,
    )

    return f"""
WITH c AS (SELECT doc_id,
       text || CASE WHEN doc_id % 7 = 0
                    THEN chr(195) || chr(169) ELSE '' END
            || CASE WHEN doc_id % 13 = 0
                    THEN chr(65533) ELSE '' END
            || CASE WHEN doc_id % 17 = 0
                    THEN chr(7) || chr(127) ELSE '' END AS t
       FROM documents),
n AS (SELECT doc_id, t,
        len(regexp_extract_all(t, '{_E.RE_REPLACEMENT}')) AS n_replacement,
        len(regexp_extract_all(t, '{_E.RE_MOJIBAKE}')) AS n_mojibake,
        len(regexp_extract_all(t, '{_E.RE_CONTROL}')) AS n_control
      FROM c)
SELECT doc_id, n_replacement, n_mojibake, n_control,
       floor(((n_replacement + n_mojibake + n_control)
             / greatest(len(t), 1)::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS corrupt_ratio,
       coalesce(n_replacement > 0
                OR (n_replacement + n_mojibake + n_control)
                   / greatest(len(t), 1)::DOUBLE >= 0.0005,
                false) AS is_corrupt
FROM n
"""


ORACLE_ENCODING_CORRUPTION = _encoding_oracle()


def q_outlinks_documents(spark, sf_dir):
    """OutlinkExtractor gate: deterministic HTML synthesized
    identically in both engines (absolute https link per doc, a
    single-quoted relative link on doc_id%3, an http img on %4),
    extracted to (doc, outlink, registrable domain) edge rows."""
    from flink_ml__spark.functions.web import OutlinkExtractor

    docs = load_table(spark, "documents", sf_dir)
    k = F.col("doc_id")
    html = F.concat(
        F.lit('<a href="https://site'), (k % 5).cast("string"),
        F.lit('.example.com/p/'), k.cast("string"),
        F.lit('">x</a>'),
        F.when(k % 3 == 0,
               F.concat(F.lit(" <a href='/rel/"), k.cast("string"),
                        F.lit("'>y</a>"))).otherwise(F.lit("")),
        F.when(k % 4 == 0,
               F.concat(F.lit(' <img src="http://img'),
                        (k % 7).cast("string"),
                        F.lit('.example.co.uk/i.png">')))
         .otherwise(F.lit("")))
    return (OutlinkExtractor()
            .transform(docs.select("doc_id", html.alias("text"))))


def _outlinks_oracle() -> str:
    from flink_ml__spark.functions.web import OutlinkExtractor as _O

    href = _O.RE_HREF.replace("'", "''")
    return f"""
WITH h AS (SELECT doc_id,
       '<a href="https://site' || (doc_id % 5)
       || '.example.com/p/' || doc_id || '">x</a>'
       || CASE WHEN doc_id % 3 = 0
               THEN ' <a href=' || chr(39) || '/rel/' || doc_id
                    || chr(39) || '>y</a>'
               ELSE '' END
       || CASE WHEN doc_id % 4 = 0
               THEN ' <img src="http://img' || (doc_id % 7)
                    || '.example.co.uk/i.png">'
               ELSE '' END AS t
       FROM documents),
m AS (SELECT doc_id, unnest(list_filter(
            regexp_extract_all(t, '{href}', 1),
            x -> x <> '')) AS outlink FROM h
      UNION ALL
      SELECT doc_id, unnest(list_filter(
            regexp_extract_all(t, '{href}', 2),
            x -> x <> '')) AS outlink FROM h),
a AS (SELECT doc_id, outlink,
             CASE WHEN regexp_matches(outlink, '(?i)^https?://')
                  THEN lower(regexp_extract(outlink,
                             '{_W_RE}', 2)) END AS host
      FROM m)
SELECT doc_id, outlink,
       CASE
        WHEN host IS NULL OR host = '' THEN NULL
        WHEN regexp_matches(host,
             '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$') THEN host
        WHEN len(string_split(host, '.')) <= 2 THEN host
        WHEN array_to_string(string_split(host, '.')[-2:], '.')
             IN ({_web_suffix_sql()})
          THEN array_to_string(string_split(host, '.')[-3:], '.')
        ELSE array_to_string(string_split(host, '.')[-2:], '.')
       END AS out_domain
FROM a
"""


ORACLE_OUTLINKS = _outlinks_oracle()



_PPR_SEEDS = list(range(10))


def q_ppr_events(spark, sf_dir):
    """Personalized PageRank gate: teleport + dangling mass pinned to
    seed users 0..9 over the same interaction graph as
    ``pagerank_events`` — 5 deterministic iterations, oracle replays
    each as a chained CTE with identical literals."""
    from flink_ml__spark.functions.graph import PageRank

    ev = _events(spark, sf_dir)
    edges = ev.select(F.col("user_id").alias("src"),
                      (F.col("event_id") % 150).alias("dst"))
    out = (PageRank().setMaxIter(5).setSeedNodes(_PPR_SEEDS)
           .transform(edges))
    return out.select("node", _fq("rank").alias("rank"))


def _oracle_ppr(iters: int = 5, d: float = 0.85) -> str:
    dd, omd = repr(d), repr(1.0 - d)
    seeds = ", ".join(str(s) for s in _PPR_SEEDS)
    ctes = [f"""e AS (SELECT user_id AS src, event_id % 150 AS dst
     FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
ew AS (SELECT src, dst, count(*)::DOUBLE AS w FROM e GROUP BY 1, 2),
tr AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
       FROM ew),
nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
sd AS (SELECT DISTINCT node FROM (SELECT unnest([{seeds}]) AS node)
       WHERE node IN (SELECT node FROM nodes)),
sm AS (SELECT count(*)::DOUBLE AS m FROM sd),
tele AS (SELECT nodes.node,
                CASE WHEN sd.node IS NOT NULL THEN 1.0 / sm.m
                     ELSE 0.0 END AS t
         FROM nodes CROSS JOIN sm
         LEFT JOIN sd ON nodes.node = sd.node),
r0 AS (SELECT node, t AS rank FROM tele)"""]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(f"""dg{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {p}
        WHERE node NOT IN (SELECT src FROM ew)),
c{i} AS (SELECT tr.dst AS node, sum(tr.p * {p}.rank) AS c
        FROM tr JOIN {p} ON tr.src = {p}.node GROUP BY 1),
r{i} AS (SELECT tele.node,
        ({omd} + {dd} * dg{i}.dm) * tele.t
        + {dd} * coalesce(c{i}.c, 0.0) AS rank
        FROM tele CROSS JOIN dg{i}
        LEFT JOIN c{i} ON tele.node = c{i}.node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, floor((rank) * 1e{R} + 0.5) / 1e{R} AS rank FROM r{iters}")


ORACLE_PPR = _oracle_ppr()


def q_interval_overlap_events(spark, sf_dir):
    """IntervalOverlapJoiner gate (plain keyed mode): per-user
    exposure intervals [ts, ts+(event_id%120)s] joined against
    synthesized incident windows [ts+30s, ts+90s] of every 5th
    event — closed-interval overlap, intersection bounds emitted."""
    from flink_ml__spark.functions.sessions import IntervalOverlapJoiner

    ev = _events(spark, sf_dir)

    def span(base_off, width_col_or_lit, flt):
        src = ev.filter(flt)
        s = F.timestamp_micros(F.unix_micros(F.col("ts"))
                               + base_off * 1_000_000)
        e = F.timestamp_micros(F.unix_micros(F.col("ts"))
                               + width_col_or_lit * 1_000_000)
        return src.select("user_id", s.alias("s"), e.alias("e"))

    left = span(0, (F.col("event_id") % 120),
                F.col("event_id") % 3 == 0)
    right = span(30, F.lit(90), F.col("event_id") % 5 == 0)
    j = (IntervalOverlapJoiner().setKeyCol("user_id")
         .setStartCol("s").setEndCol("e"))
    return j.join(left, right)


ORACLE_INTERVAL_OVERLAP = """
WITH l AS (SELECT user_id, ts AS s,
                  ts + to_seconds(event_id % 120) AS e
           FROM events
           WHERE event_id % 3 = 0 AND user_id IS NOT NULL
             AND ts IS NOT NULL AND event_id IS NOT NULL),
r AS (SELECT user_id, ts + to_seconds(30) AS s,
             ts + to_seconds(90) AS e
      FROM events
      WHERE event_id % 5 = 0 AND user_id IS NOT NULL
        AND ts IS NOT NULL)
SELECT l.user_id, l.s AS l_start, l.e AS l_end,
       r.s AS r_start, r.e AS r_end,
       greatest(l.s, r.s) AS overlap_start,
       least(l.e, r.e) AS overlap_end
FROM l JOIN r ON l.user_id = r.user_id
WHERE l.s <= r.e AND r.s <= l.e
"""



def q_image_ahash_documents(spark, sf_dir):
    """Average-hash fingerprints of the stub-decoded document
    payloads — the 8×8 grid, the integer cross-multiplied mean
    threshold (64·px > Σpx, exact), the band packing and hex all
    replay in SQL."""
    from flink_ml__spark.functions.multimodal import (
        AverageImageHasher,
        ImageDecoder,
    )

    decoded = (ImageDecoder().setHeight(16).setWidth(16)
               .transform(_dhash_payloads(spark, sf_dir)))
    out = AverageImageHasher().transform(decoded)
    return out.select("doc_id", "ahash_hex", "ahash_b0", "ahash_b1",
                      "ahash_b2", "ahash_b3")


_AHASH_CTES = f"""
{_fake_bytes_ctes(256, _DHASH_SRC)},
ah_grid AS (
  SELECT i, j, (i * 2) * 16 + (j * 2) AS pos
  FROM range(0, 8) t(i), range(0, 8) u(j)),
ah_small AS (
  SELECT fb.doc_id, g.i, g.j, fb.b
  FROM fp_byte fb JOIN ah_grid g ON fb.pos = g.pos),
ah_tot AS (
  SELECT doc_id, sum(b)::BIGINT AS total FROM ah_small GROUP BY 1),
ah_bits AS (
  SELECT s.doc_id, s.i, s.j,
         (s.b * 64 > t.total)::INT AS bit
  FROM ah_small s JOIN ah_tot t ON s.doc_id = t.doc_id),
ah_bands AS (
  SELECT doc_id, (i * 8 + j) // 16 AS k,
         sum(bit * (1::BIGINT << (15 - ((i * 8 + j) % 16))))::INT AS v
  FROM ah_bits GROUP BY 1, 2),
ah AS (
  SELECT doc_id,
         max(CASE WHEN k = 0 THEN v END) AS b0,
         max(CASE WHEN k = 1 THEN v END) AS b1,
         max(CASE WHEN k = 2 THEN v END) AS b2,
         max(CASE WHEN k = 3 THEN v END) AS b3
  FROM ah_bands GROUP BY doc_id)
"""

ORACLE_IMAGE_AHASH = f"""
WITH {_AHASH_CTES}
SELECT doc_id,
       format('{{:04x}}', b0) || format('{{:04x}}', b1)
       || format('{{:04x}}', b2) || format('{{:04x}}', b3) AS ahash_hex,
       b0 AS ahash_b0, b1 AS ahash_b1, b2 AS ahash_b2, b3 AS ahash_b3
FROM ah
"""



def q_seasonal_decompose_events(spark, sf_dir):
    """SeasonalDecomposer gate: hourly buckets, daily (24-phase)
    season per user — phase means and the level-preserving
    deseasonalized series replay as SQL window aggregates."""
    from flink_ml__spark.functions.timeseries import SeasonalDecomposer

    ev = _events(spark, sf_dir)
    # cent-scaled integer metric: integer-valued doubles sum EXACTLY
    # (no float summation-order jitter across partitions/runs), so
    # the window averages — and therefore every rounding-tie — are
    # deterministic and engine-identical
    ev = ev.withColumn("value_c",
                       F.round(F.col("value") * 100).cast("bigint"))
    out = (SeasonalDecomposer().setKeyCol("user_id").setTimeCol("ts")
           .setValueCol("value_c").setBucketWidthSec(3600.0)
           .setPeriod(24).transform(ev))
    # 4 dp with a decimal-tie-matched oracle: 2-decimal inputs
    # averaged over power-of-ten-friendly counts land EXACTLY on
    # rounding-boundary halves (observed r08: des = 25.85975), where
    # Spark (BigDecimal HALF_UP on the shortest decimal) and a raw
    # DuckDB round (binary double, which sits just below the half)
    # disagree — the oracle therefore rounds the double's SHORTEST
    # DECIMAL STRING (::VARCHAR::DECIMAL(28,14)), which is exactly
    # the value Spark's BigDecimal.valueOf sees, so ties and
    # near-ties (...4999999) resolve identically
    # deliberately F.round (BigDecimal on the shortest decimal), NOT
    # the _fq float quantizer: the phase means are exact rationals
    # that land ON .5 at 4 dp, where only decimal semantics (matched
    # by the oracle's ::VARCHAR::DECIMAL round) resolve ties stably
    return out.select(
        "event_id", "user_id", "phase",
        F.round("phase_mean", 4).alias("phase_mean"),
        F.round("deseasonalized", 4).alias("deseasonalized"))


ORACLE_SEASONAL_DECOMPOSE = f"""
WITH b AS (SELECT event_id, user_id,
                  round(value * 100)::BIGINT AS value_c,
                  (floor(epoch_us(ts) / 3600000000) % 24)::INT
                    AS phase
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL)
SELECT event_id, user_id, phase,
       round((avg(value_c) OVER (PARTITION BY user_id, phase)
             )::VARCHAR::DECIMAL(28, 14), 4)::DOUBLE AS phase_mean,
       round((value_c
             - avg(value_c) OVER (PARTITION BY user_id, phase)
             + avg(value_c) OVER (PARTITION BY user_id)
             )::VARCHAR::DECIMAL(28, 14), 4)::DOUBLE
         AS deseasonalized
FROM b
"""


def q_mutual_info_orders(spark, sf_dir):
    """MutualInformationRanker gate: order priority, price bucket and
    order year ranked by MI against the order status — one melt pass,
    one cell aggregation, window marginals."""
    from flink_ml__spark.functions.stats import MutualInformationRanker

    o = load_table(spark, "orders", sf_dir)
    feat = o.select(
        F.col("o_orderstatus").alias("label"),
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / 50000).alias("price_bucket"),
        F.year("o_orderdate").alias("order_year"))
    out = (MutualInformationRanker().setLabelCol("label")
           .setInputCols("o_orderpriority", "price_bucket",
                         "order_year").transform(feat))
    return out.select("feature", "n_rows", "n_values",
                      _fq("mi").alias("mi"))


ORACLE_MUTUAL_INFO = f"""
WITH base AS (SELECT o_orderstatus AS y,
                     o_orderpriority,
                     floor(o_totalprice / 50000)::BIGINT::VARCHAR
                       AS price_bucket,
                     year(o_orderdate)::BIGINT::VARCHAR
                       AS order_year
              FROM orders),
m AS (SELECT 'o_orderpriority' AS feature,
             o_orderpriority AS value, y FROM base
      UNION ALL
      SELECT 'price_bucket', price_bucket, y FROM base
      UNION ALL
      SELECT 'order_year', order_year, y FROM base),
cells AS (SELECT feature, value, y, count(*) AS n FROM m
          WHERE value IS NOT NULL AND y IS NOT NULL
          GROUP BY 1, 2, 3),
w AS (SELECT feature, value, y, n,
             sum(n) OVER (PARTITION BY feature) AS nt,
             sum(n) OVER (PARTITION BY feature, value) AS nx,
             sum(n) OVER (PARTITION BY feature, y) AS ny
      FROM cells)
SELECT feature, min(nt)::BIGINT AS n_rows,
       count(DISTINCT value) AS n_values,
       floor((sum((n / nt::DOUBLE)
                 * ln((n * nt)::DOUBLE / (nx * ny)))) * 1e{R} + 0.5) / 1e{R} AS mi
FROM w GROUP BY feature
"""



def q_cusum_events(spark, sf_dir):
    """CusumDetector gate: two-sided CUSUM over each user's hourly
    cent-summed value series (integer-valued doubles — cumulative
    sums are exact under any summation order, so both statistics are
    engine- and run-deterministic; default per-key mean target)."""
    from flink_ml__spark.functions.timeseries import CusumDetector

    ev = _events(spark, sf_dir)
    b = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("ts").isNotNull())
         .groupBy("user_id", F.date_trunc("hour", "ts").alias("bk"))
         .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
              .alias("x")))
    out = (CusumDetector().setKeyCol("user_id").setTimeCol("bk")
           .setValueCol("x").setSlack(50.0).setThreshold(20000.0)
           .transform(b))
    return out.select(
        "user_id", "bk", "x",
        _fq("cusum_pos").alias("cusum_pos"),
        _fq("cusum_neg").alias("cusum_neg"), "is_alarm")


ORACLE_CUSUM = f"""
WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bk,
                  sum(round(value * 100)::BIGINT)::BIGINT AS x
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
m AS (SELECT user_id, bk, x,
             sum(x::DOUBLE) OVER cum AS csum,
             row_number() OVER w AS n,
             avg(x) OVER (PARTITION BY user_id) AS mu
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY bk),
             cum AS (PARTITION BY user_id ORDER BY bk
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)),
p AS (SELECT user_id, bk, x,
             csum - n * (mu + 50.0) AS pp,
             n * (mu - 50.0) - csum AS pn
      FROM m),
s AS (SELECT user_id, bk, x,
             pp - least(0.0, min(pp) OVER cum) AS sp,
             pn - least(0.0, min(pn) OVER cum) AS sn
      FROM p
      WINDOW cum AS (PARTITION BY user_id ORDER BY bk
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW))
SELECT user_id, bk, x,
       floor((sp) * 1e{R} + 0.5) / 1e{R} AS cusum_pos, floor((sn) * 1e{R} + 0.5) / 1e{R} AS cusum_neg,
       greatest(sp, sn) >= 20000.0 AS is_alarm
FROM s
"""



def q_sentences_documents(spark, sf_dir):
    """SentenceSplitter gate: every 7th document segmented to
    (doc, idx, sentence) rows — the lookaround-free extraction
    replays verbatim under RE2."""
    from flink_ml__spark.functions.text import SentenceSplitter

    docs = (load_table(spark, "documents", sf_dir)
            .filter(F.col("doc_id") % 7 == 0))
    # the synthetic corpus is punctuation-poor; inject deterministic
    # sentence breaks (same replace in the oracle) so the gate
    # exercises real multi-sentence segmentation
    docs = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" the "), F.lit(". The "))
         .alias("text"))
    return SentenceSplitter().transform(docs)


def _sentences_oracle() -> str:
    from flink_ml__spark.functions.text import SentenceSplitter as _S

    return f"""
WITH m AS (SELECT doc_id,
                  list_filter(
                    list_transform(
                      regexp_extract_all(
                        replace(text, ' the ', '. The '),
                        '{_S.RE_SENT}'),
                      s -> trim(s)),
                    s -> s <> '') AS sents
           FROM documents
           WHERE doc_id % 7 = 0 AND text IS NOT NULL),
x AS (SELECT doc_id, sents,
             unnest(range(1, len(sents) + 1)) AS i FROM m)
SELECT doc_id, i - 1 AS sent_idx, sents[i] AS sentence FROM x
"""


ORACLE_SENTENCES = _sentences_oracle()



def q_golden_records_orders(spark, sf_dir):
    """GoldenRecordBuilder gate: orders clustered by o_custkey%500,
    status/priority surviving by modal value (deterministic ties) —
    melt, count, modal pick and pivot-back replayed in SQL."""
    from flink_ml__spark.functions.linkage import GoldenRecordBuilder

    o = load_table(spark, "orders", sf_dir)
    df = o.select((F.col("o_custkey") % 500).alias("cluster"),
                  "o_orderstatus", "o_orderpriority")
    return (GoldenRecordBuilder().setClusterCol("cluster")
            .setValueCols("o_orderstatus", "o_orderpriority")
            .transform(df))


ORACLE_GOLDEN_RECORDS = """
WITH base AS (SELECT o_custkey % 500 AS cluster, o_orderstatus,
                     o_orderpriority
              FROM orders WHERE o_custkey IS NOT NULL),
members AS (SELECT cluster, count(*) AS n_members
            FROM base GROUP BY 1),
m AS (SELECT cluster, 'o_orderstatus' AS attr,
             o_orderstatus AS val FROM base
      UNION ALL
      SELECT cluster, 'o_orderpriority', o_orderpriority FROM base),
counts AS (SELECT cluster, attr, val, count(*) AS n FROM m
           WHERE val IS NOT NULL GROUP BY 1, 2, 3),
picked AS (SELECT cluster, attr, val FROM counts
           QUALIFY row_number() OVER (
             PARTITION BY cluster, attr
             ORDER BY n DESC, val ASC) = 1),
wide AS (SELECT cluster,
                max(CASE WHEN attr = 'o_orderstatus' THEN val END)
                  AS o_orderstatus,
                max(CASE WHEN attr = 'o_orderpriority' THEN val END)
                  AS o_orderpriority
         FROM picked GROUP BY 1)
SELECT members.cluster, n_members, o_orderstatus, o_orderpriority
FROM members LEFT JOIN wide ON members.cluster = wide.cluster
"""



def q_quantile_window_events(spark, sf_dir):
    """WindowedQuantileProfiler gate: daily p50/p95/p99 of event
    values per type — Catalyst's exact percentile interpolates
    identically to ANSI quantile_cont, so the oracle replays
    bit-for-bit."""
    from flink_ml__spark.functions.timeseries import (
        WindowedQuantileProfiler,
    )

    ev = _events(spark, sf_dir)
    out = (WindowedQuantileProfiler().setBucketWidthSec(86400.0)
           .transform(ev))
    return out.select(
        "event_type", F.unix_micros("bucket_start").alias("bucket_us"),
        "n", _fq("q_5").alias("q_5"),
        _fq("q_95").alias("q_95"),
        _fq("q_99").alias("q_99"))


ORACLE_QUANTILE_WINDOW = f"""
WITH b AS (SELECT event_type,
                  (epoch_us(ts) // 86400000000) * 86400000000
                    AS bucket_us,
                  value
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
             AND value IS NOT NULL)
SELECT event_type, bucket_us, count(*) AS n,
       floor((quantile_cont(value, 0.5)) * 1e{R} + 0.5) / 1e{R} AS q_5,
       floor((quantile_cont(value, 0.95)) * 1e{R} + 0.5) / 1e{R} AS q_95,
       floor((quantile_cont(value, 0.99)) * 1e{R} + 0.5) / 1e{R} AS q_99
FROM b GROUP BY 1, 2
"""


def q_quantile_monitor_invariants_events(spark, sf_dir):
    """Violations-only gate for the streaming quantile monitor's
    Greenwald-Khanna path: per (type, day, quantile), the approx
    answer must sit within the sketch's rank-error band of the exact
    order statistics — |rank(approx) − target rank| ≤ ceil(n/acc)+1.
    Expected EMPTY."""
    from flink_ml__spark.streaming.online import stream_quantile_monitor

    ev = _events(spark, sf_dir)
    acc = 1000
    apx = stream_quantile_monitor(ev, "ts", "value",
                                  probs=(0.5, 0.95), window="1 day",
                                  accuracy=acc, group_col="event_type")
    x = F.col("value").cast("double")
    base = ev.filter(F.col("ts").isNotNull() & x.isNotNull()
                     & F.col("event_type").isNotNull())
    day = F.window(F.col("ts"), "1 day").getField("start")
    ranked = base.select("event_type", day.alias("window_start"),
                         x.alias("v"))
    out = []
    for p, col in ((0.5, "q_5"), (0.95, "q_95")):
        a = apx.select("event_type", "window_start",
                       F.col(col).alias("qa"), F.lit(p).alias("p"))
        j = (ranked.join(a, ["event_type", "window_start"])
             .groupBy("event_type", "window_start", "p")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum((F.col("v") <= F.col("qa")).cast("long"))
                   .alias("le")))
        viol = j.filter(
            F.abs(F.col("le") - F.ceil(F.col("p") * F.col("n")))
            > F.ceil(F.col("n") / acc) + 1)
        out.append(viol.select("event_type", "p"))
    bad = out[0].unionByName(out[1])
    return bad.select("event_type",
                      _fq("p").alias("p"))


ORACLE_QUANTILE_MONITOR_INVARIANTS = """
SELECT event_type, 0.0::DOUBLE AS p FROM events WHERE false
"""



def q_temporal_split_events(spark, sf_dir):
    """TemporalSplitter gate: time-ordered train/embargo/test counts
    over events (trainEnd mid-corpus, 1-day embargo) — the
    leakage-safe forecasting split."""
    from flink_ml__spark.functions.curation import TemporalSplitter

    ev = _events(spark, sf_dir)
    out = (TemporalSplitter().setTrainEnd("2024-01-05 00:00:00")
           .setEmbargoSec(86400.0).transform(ev))
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(F.unix_micros("ts")).alias("min_us"),
                 F.max(F.unix_micros("ts")).alias("max_us")))


ORACLE_TEMPORAL_SPLIT = """
WITH s AS (SELECT ts,
       CASE WHEN ts IS NULL THEN NULL
            WHEN ts < TIMESTAMP '2024-01-05 00:00:00' THEN 'train'
            WHEN ts < TIMESTAMP '2024-01-06 00:00:00' THEN 'embargo'
            ELSE 'test' END AS split
       FROM events)
SELECT split, count(*) AS n,
       min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
FROM s GROUP BY 1
"""



def q_correlation_rank_lineitem(spark, sf_dir):
    """CorrelationRanker gate: lineitem numerics ranked by Pearson r
    against the extended price — one melt pass, five moment sums per
    feature, Σ-identity assembly replayed in SQL."""
    from flink_ml__spark.functions.stats import CorrelationRanker

    li = load_table(spark, "lineitem", sf_dir)
    out = (CorrelationRanker().setLabelCol("l_extendedprice")
           .setInputCols("l_quantity", "l_discount", "l_tax")
           .transform(li))
    return out.select("feature", "n_rows",
                      _fq("r").alias("r"))


ORACLE_CORRELATION_RANK = f"""
WITH m AS (SELECT 'l_quantity' AS feature, l_quantity::DOUBLE AS x,
                  l_extendedprice::DOUBLE AS y FROM lineitem
           UNION ALL
           SELECT 'l_discount', l_discount::DOUBLE,
                  l_extendedprice::DOUBLE FROM lineitem
           UNION ALL
           SELECT 'l_tax', l_tax::DOUBLE,
                  l_extendedprice::DOUBLE FROM lineitem),
a AS (SELECT feature, count(*) AS n_rows,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
             sum(y * y) AS syy, sum(x * y) AS sxy
      FROM m WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1)
SELECT feature, n_rows,
       CASE WHEN n_rows * sxx - sx * sx > 0
             AND n_rows * syy - sy * sy > 0
            THEN floor(((n_rows * sxy - sx * sy)
                       / sqrt((n_rows * sxx - sx * sx)
                              * (n_rows * syy - sy * sy))) * 1e{R} + 0.5) / 1e{R}
       END AS r
FROM a
"""



def q_hashed_tfidf_documents(spark, sf_dir):
    """HashedTfIdfEmbedder gate: fit smooth-IDF bucket weights on the
    corpus, emit the L2-normalized tf·idf vectors as exploded
    (doc, pos, weight) rows — BOTH stages (the document-frequency
    fit and the weighted apply) replay independently in SQL."""
    from flink_ml__spark.functions.text import HashedTfIdfEmbedder

    docs = load_table(spark, "documents", sf_dir)
    model = HashedTfIdfEmbedder().setDim(16).fit(docs)
    out = model.transform(docs)
    return out.select(
        "doc_id", F.posexplode_outer(
            F.transform("embedding", lambda x: _fq(x))))


ORACLE_HASHED_TFIDF = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
b AS (SELECT doc_id,
             list_transform(toks, t -> {_H60.format(x='t')}
                                        % {_HTF_DIM}) AS bk
      FROM toks),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
dfq AS (SELECT bk2 AS bucket, count(*) AS df
        FROM (SELECT doc_id, unnest(list_distinct(bk)) AS bk2 FROM b)
        GROUP BY 1),
idf AS (SELECT i AS bucket,
               ln((nd.n + 1.0) / (coalesce(dfq.df, 0) + 1.0)) + 1.0
                 AS w
        FROM range(0, {_HTF_DIM}) t(i)
        CROSS JOIN nd LEFT JOIN dfq ON dfq.bucket = i),
c AS (SELECT doc_id, len(bk) AS ntok,
             list_transform(range(0, {_HTF_DIM}),
                            i -> len(list_filter(bk, x -> x = i))::DOUBLE)
               AS cnt
      FROM b),
iw AS (SELECT list(w ORDER BY bucket) AS ws FROM idf),
wv AS (SELECT doc_id, ntok,
              list_transform(range(1, {_HTF_DIM} + 1),
                             i -> cnt[i] * ws[i]) AS wvec
       FROM c CROSS JOIN iw),
n2 AS (SELECT doc_id, ntok, wvec,
              sqrt(list_sum(list_transform(wvec, x -> x * x))) AS nrm
       FROM wv),
f AS (SELECT doc_id,
             CASE WHEN ntok > 0
                  THEN list_transform(wvec, x -> floor((x / nrm) * 1e{R} + 0.5) / 1e{R})
             END AS emb
      FROM n2)
SELECT doc_id, i - 1 AS pos, emb[i] AS col
FROM (SELECT doc_id, emb,
             unnest(range(1, {_HTF_DIM} + 1)) AS i
      FROM f WHERE emb IS NOT NULL)
UNION ALL
SELECT doc_id, NULL AS pos, NULL AS col FROM f WHERE emb IS NULL
"""


# ---------------------------------------------------------------------------
# round 9: Holt trend forecast, lexical diversity, code density, NB text
# ---------------------------------------------------------------------------

def q_holt_forecast_events(spark, sf_dir):
    """HoltForecaster gate: level+trend double exponential smoothing
    per event_type. The fold is sequential over the time-sorted series,
    so the DuckDB list_reduce oracle replays the exact IEEE-double
    recursion (identical order → identical bits, rounded at 6 dp)."""
    from flink_ml__spark.functions.timeseries import HoltForecaster

    ev = load_table(spark, "events", sf_dir)
    return (HoltForecaster().setKeyCol("event_type").setTimeCol("ts")
            .setValueCol("value").setAlpha(0.5).setBeta(0.3)
            .setHorizon(3).transform(ev)
            .withColumnRenamed("event_type", "key"))


ORACLE_HOLT = """
WITH s AS (
  SELECT event_type AS key, list(value::DOUBLE ORDER BY ts, value) AS xs
  FROM events WHERE value IS NOT NULL
  GROUP BY 1),
f AS (
  SELECT key, len(xs) AS n,
    CASE WHEN len(xs) = 1 THEN [xs[1], 0.0]
    ELSE list_reduce(list_prepend([xs[1], 0.0],
           list_transform(xs[2:], x -> [x, 0.0])),
      (acc, e) -> [0.5*e[1] + 0.5*(acc[1]+acc[2]),
                   0.3*((0.5*e[1] + 0.5*(acc[1]+acc[2])) - acc[1])
                     + 0.7*acc[2]])
    END AS lb
  FROM s)
SELECT key, n, floor((lb[1]) * 1e6 + 0.5) / 1e6 AS level, floor((lb[2]) * 1e6 + 0.5) / 1e6 AS trend,
       floor((lb[1] + 3.0*lb[2]) * 1e6 + 0.5) / 1e6 AS forecast
FROM f
"""


def q_lexical_diversity_documents(spark, sf_dir):
    """LexicalDiversityScorer gate: TTR / hapax / entropy / Simpson per
    document — the low-diversity spam detectors. Entropy and Simpson
    come from raw-count sums (Σ c·log2 c, Σ c²) so the per-doc fold is
    one aggregate on both engines."""
    from flink_ml__spark.functions.text import LexicalDiversityScorer

    docs = load_table(spark, "documents", sf_dir)
    out = LexicalDiversityScorer().transform(docs)
    return out.select(
        "doc_id", "n_tokens_ld", "n_types",
        _fq("ttr").alias("ttr"),
        _fq("hapax_frac").alias("hapax_frac"),
        _fq("shannon_entropy").alias("shannon_entropy"),
        _fq("simpson_index").alias("simpson_index"))


ORACLE_LEXICAL_DIVERSITY = f"""
WITH toks AS (SELECT doc_id,
                     coalesce({_TOK_SQL}, []) AS toks
              FROM documents),
tc AS (SELECT doc_id, t, count(*) AS c
       FROM (SELECT doc_id, unnest(toks) AS t FROM toks)
       GROUP BY 1, 2),
st AS (SELECT doc_id, sum(c) AS n, count(*) AS k,
              sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
              sum(c::DOUBLE * log2(c::DOUBLE)) AS clogc,
              sum(c::DOUBLE * c::DOUBLE) AS csq
       FROM tc GROUP BY 1)
SELECT d.doc_id,
       coalesce(st.n, 0)::BIGINT AS n_tokens_ld,
       st.k::BIGINT AS n_types,
       floor((st.k / st.n::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS ttr,
       floor((st.hapax / st.k::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS hapax_frac,
       floor((log2(st.n::DOUBLE) - st.clogc / st.n::DOUBLE) * 1e{R} + 0.5) / 1e{R}
         AS shannon_entropy,
       floor((st.csq / (st.n::DOUBLE * st.n::DOUBLE)) * 1e{R} + 0.5) / 1e{R}
         AS simpson_index
FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
"""


def q_code_density_documents(spark, sf_dir):
    """CodeDensityProfiler gate: line-structural code-vs-prose signals
    — map-only codegen, exact SQL replay."""
    from flink_ml__spark.functions.text import CodeDensityProfiler

    docs = load_table(spark, "documents", sf_dir)
    out = CodeDensityProfiler().setThreshold(0.4).transform(docs)
    return out.select(
        "doc_id", "n_lines",
        _fq("indent_frac").alias("indent_frac"),
        _fq("symbol_line_frac").alias("symbol_line_frac"),
        "fence_count",
        _fq("symbol_ratio").alias("symbol_ratio"),
        _fq("code_score").alias("code_score"),
        "is_code")


ORACLE_CODE_DENSITY = f"""
WITH l AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
         length(text) AS nchars
  FROM documents),
m AS (
  SELECT doc_id, text, len(lines) AS nl,
         len(list_filter(lines,
             s -> regexp_matches(s, '^(    |\t)'))) AS ind,
         len(list_filter(lines,
             s -> regexp_matches(s, '[;{{}})(:]\\s*$'))) AS syml,
         len(list_filter(lines, s -> s LIKE '```%')) AS fence,
         nchars,
         nchars - length(regexp_replace(text, '[{{}}()\\[\\];=<>]',
                                        '', 'g')) AS nsym
  FROM l),
sc AS (
  SELECT doc_id, nl, ind, syml, fence,
         CASE WHEN nchars > 0 THEN nsym / nchars::DOUBLE
              ELSE 0.0 END AS sr
  FROM m)
SELECT doc_id,
       nl::INT AS n_lines,
       floor((ind / nl::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS indent_frac,
       floor((syml / nl::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS symbol_line_frac,
       fence::INT AS fence_count,
       floor((sr) * 1e{R} + 0.5) / 1e{R} AS symbol_ratio,
       floor((least(0.4 * ind / nl::DOUBLE + 0.3 * syml / nl::DOUBLE
                   + 0.3 * least(10.0 * sr, 1.0)
                   + CASE WHEN fence > 0 THEN 0.2 ELSE 0.0 END,
                   1.0)) * 1e{R} + 0.5) / 1e{R} AS code_score,
       (least(0.4 * ind / nl::DOUBLE + 0.3 * syml / nl::DOUBLE
              + 0.3 * least(10.0 * sr, 1.0)
              + CASE WHEN fence > 0 THEN 0.2 ELSE 0.0 END, 1.0)
        >= 0.4) AS is_code
FROM sc
"""


def q_hard_negatives_embeddings(spark, sf_dir):
    """HardNegativeMiner gate: per-anchor top-5 different-label
    negatives in the cosine band [0.0, 0.95] — exact semantics, ranked
    like the proven ann_cosine_topk gate (cosine desc, id asc)."""
    from flink_ml__spark.functions.similarity import HardNegativeMiner

    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    out = (HardNegativeMiner().setK(5).setLabelCol("label")
           .setSimLo(0.0).setSimHi(0.95).mine(anchors, emb))
    return out.select("query_id", "rank", "neighbor_id",
                      "label_anchor", "label_negative",
                      _fq("cosine").alias("cosine"))


ORACLE_HARD_NEGATIVES = f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> v::DOUBLE) AS emb
  FROM embeddings),
nv AS (SELECT vec_id, label, emb,
              sqrt(list_aggregate(list_transform(emb, x -> x*x), 'sum'))
              AS nrm FROM base),
q AS (SELECT * FROM nv WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.label AS label_anchor, c.label AS label_negative,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cosine
  FROM q JOIN nv c ON q.vec_id <> c.vec_id AND q.label <> c.label),
banded AS (SELECT * FROM scored WHERE cosine >= 0.0 AND cosine <= 0.95),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)
              AS rank
  FROM banded)
SELECT query_id, rank, neighbor_id, label_anchor, label_negative,
       floor((cosine) * 1e{R} + 0.5) / 1e{R} AS cosine
FROM ranked WHERE rank <= 5
"""


def q_zipf_documents(spark, sf_dir):
    """ZipfProfiler gate: one-row rank-frequency fit over the corpus
    token distribution (OLS of ln freq on ln rank over the top 256
    ranks; TakeOrderedAndProject rank cut, never a vocabulary sort)."""
    from flink_ml__spark.functions.curation import ZipfProfiler

    docs = load_table(spark, "documents", sf_dir)
    return ZipfProfiler().setMaxRank(256).transform(docs)


ORACLE_ZIPF = f"""
WITH toks AS (SELECT doc_id, coalesce({_TOK_SQL}, []) AS toks
              FROM documents),
tc AS (SELECT t, count(*) AS c
       FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types
        FROM tc),
top AS (SELECT c FROM tc ORDER BY c DESC, t ASC LIMIT 256),
ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC) AS r FROM top),
fit AS (SELECT count(*)::BIGINT AS top_rank,
               floor((regr_slope(ln(c::DOUBLE), ln(r::DOUBLE))) * 1e6 + 0.5) / 1e6
                 AS zipf_slope,
               floor((regr_r2(ln(c::DOUBLE), ln(r::DOUBLE))) * 1e6 + 0.5) / 1e6
                 AS zipf_r2
        FROM ranked)
SELECT n_tokens, n_types, top_rank, zipf_slope, zipf_r2
FROM tot CROSS JOIN fit
"""


def q_interarrival_events(spark, sf_dir):
    """InterArrivalProfiler gate: per-event-type burstiness profile —
    one lag window pass + one aggregate, O(keys) output."""
    from flink_ml__spark.functions.timeseries import InterArrivalProfiler

    ev = load_table(spark, "events", sf_dir)
    return (InterArrivalProfiler().setKeyCol("event_type")
            .setTimeCol("ts").setTieCol("event_id").transform(ev)
            .withColumnRenamed("event_type", "key"))


ORACLE_INTERARRIVAL = """
WITH g AS (
  SELECT event_type AS key,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY event_type ORDER BY ts, event_id)) / 1e6
           AS gap
  FROM events WHERE ts IS NOT NULL),
a AS (SELECT key, count(*) AS n_events, count(gap) AS n_gaps,
             avg(gap) AS m, stddev_samp(gap) AS s
      FROM g GROUP BY key)
SELECT key, n_events, n_gaps,
       floor((m) * 1e6 + 0.5) / 1e6 AS mean_gap_s,
       floor((s) * 1e6 + 0.5) / 1e6 AS std_gap_s,
       floor((CASE WHEN m > 0 THEN s / m END) * 1e6 + 0.5) / 1e6 AS cv,
       floor((CASE WHEN m > 0 THEN (s / m - 1) / (s / m + 1) END) * 1e6 + 0.5) / 1e6
         AS burstiness
FROM a
"""


def q_ql_retrieval_documents(spark, sf_dir):
    """QueryLikelihoodRetriever gate: Dirichlet-smoothed LM retrieval
    over the same first-6-token query set as the BM25 gate — postings
    + collection LM + broadcast probe + keyed top-k, replayed term by
    term in SQL."""
    from flink_ml__spark.functions.retrieval import (
        QueryLikelihoodRetriever,
    )
    from flink_ml__spark.functions.text import TOKEN_SPLIT

    docs = load_table(spark, "documents", sf_dir)
    toks = F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))),
                            TOKEN_SPLIT), lambda t: t != "")
    queries = (docs.filter(F.col("doc_id") % 29 == 0)
               .select(F.col("doc_id").alias("query_id"),
                       F.array_join(F.slice(toks, 1, 6), " ")
                       .alias("query_text")))
    out = (QueryLikelihoodRetriever().setTopK(10).setMu(2000.0)
           .retrieve(docs, queries))
    return out.select("query_id", "doc_id",
                      _fq("score").alias("score"), "rank")


ORACLE_QL = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
       GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
tot AS (SELECT sum(tf)::DOUBLE AS total FROM tf),
cf AS (SELECT term, sum(tf) / tot.total AS pc
       FROM tf CROSS JOIN tot GROUP BY term, tot.total),
q AS (SELECT doc_id AS query_id, term, count(*) AS qc
      FROM (SELECT doc_id, unnest(toks[1:6]) AS term
            FROM toks WHERE doc_id % 29 = 0)
      GROUP BY 1, 2),
qlen AS (SELECT query_id, sum(qc) AS qlen
         FROM q JOIN cf USING (term) GROUP BY 1),
m AS (SELECT q.query_id, tf.doc_id,
             q.qc * ln(1 + tf.tf / (2000.0 * cf.pc)) AS s,
             dl.dl
      FROM q JOIN tf USING (term) JOIN cf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id),
sc AS (SELECT query_id, doc_id, sum(s) AS s, any_value(dl) AS dl
       FROM m GROUP BY 1, 2),
f AS (SELECT sc.query_id, sc.doc_id,
             sc.s + qlen.qlen * ln(2000.0 / (sc.dl + 2000.0)) AS score
      FROM sc JOIN qlen ON sc.query_id = qlen.query_id),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY floor(score * 1e9 + 0.5)::BIGINT DESC, doc_id ASC) AS "rank"
      FROM f)
SELECT query_id, doc_id, floor((score) * 1e{R} + 0.5) / 1e{R} AS score, "rank"
FROM r WHERE "rank" <= 10
"""


def q_leakage_safe_split_documents(spark, sf_dir):
    """LeakageSafeSplitter gate: assign splits by duplicate-CLUSTER
    hash so near-duplicate clusters never straddle a boundary — the
    constructive fix for what split_leakage_documents audits. The
    oracle replays the CC labels recursively and the salted bucket
    split on the cluster id."""
    from flink_ml__spark.functions.curation import LeakageSafeSplitter

    docs = load_table(spark, "documents", sf_dir)
    pairs = (MinHashDeduplicator().setSeed(42).setThreshold(0.7)
             .duplicate_pairs(docs))
    out = (LeakageSafeSplitter().setTrainFrac(0.8).setValFrac(0.1)
           .split(docs, pairs))
    return out.select("doc_id", "cluster_id", "split")


def _oracle_leakage_safe_split() -> str:
    op = MinHashDeduplicator().setSeed(42).setThreshold(0.7)
    split_case = f"""CASE
      WHEN {_BUCKET16.format(salt='split', x='cluster_id')}
           < {int(0.8 * 65536)} THEN 'train'
      WHEN {_BUCKET16.format(salt='split', x='cluster_id')}
           < {int(0.8 * 65536) + int(0.1 * 65536)} THEN 'val'
      ELSE 'test' END"""
    return f"""
WITH RECURSIVE {_minhash_dup_ctes(op, "documents")},
vp AS (
  SELECT id_l, id_r FROM pairs
  WHERE len(list_intersect(sh_l, sh_r))::DOUBLE /
        len(list_distinct(list_concat(sh_l, sh_r))) >= {op.getThreshold()!r}),
ed AS (SELECT id_l AS src, id_r AS dst FROM vp
       UNION SELECT id_r, id_l FROM vp),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN ed e ON e.src = r.id),
cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id, {split_case} AS split FROM cl
"""


def _paraphrase_frame_sql() -> str:
    """The planted-paraphrase source relation: every 4th document
    re-enters under ``doc_id + 500000`` truncated to its first 60 %
    of tokens — mid-Jaccard pairs (J ≈ 0.4-0.7 on 2-gram sets), since
    the raw synthetic corpus is mutually dissimilar."""
    return f"""
(SELECT doc_id, text FROM documents
 UNION ALL
 SELECT doc_id + 500000,
        array_to_string(list_slice(t, 1,
            greatest((len(t) * 3) // 5, 1)), ' ')
 FROM (SELECT doc_id, {_TOK_SQL} AS t FROM documents
       WHERE doc_id % 4 = 0))"""


def q_paraphrase_pairs_documents(spark, sf_dir):
    """Paraphrase-band mining gate: exact-Jaccard pairs in [0.2, 0.9)
    over the corpus plus planted 60%-prefix paraphrases — the
    weak-supervision positive-pair source (prefix filter at the lower
    edge → zero false negatives; upper cut drops near-dups)."""
    from flink_ml__spark.functions.text import TOKEN_SPLIT

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    t = F.filter(F.split(F.lower(F.coalesce("text", F.lit(""))),
                         TOKEN_SPLIT), lambda x: x != "")
    planted = (docs.filter(F.col("doc_id") % 4 == 0)
               .select((F.col("doc_id") + 500000).alias("doc_id"),
                       F.array_join(
                           F.slice(t, 1, F.greatest(
                               (F.size(t) * 3).cast("long") / F.lit(5),
                               F.lit(1)).cast("int")), " ")
                       .alias("text")))
    frame = docs.unionByName(planted)
    # 3-gram shingles (2-grams share "of the"-style hot join keys —
    # the prefix join's ~unique-key assumption needs n >= 3) and a
    # 0.35 lower edge (prefix length is (1-lo)·|X|+1: a low lo indexes
    # most of every document and the join degenerates — measured 56.8 s
    # vs 2.4 s at sf0.1 for lo=0.2/n=2 vs lo=0.35/n=3)
    op = NgramJaccardDeduplicator().setShingleSize(3)
    pairs = op.similar_pairs(frame, lo=0.35, hi=0.9)
    return pairs.select("id_keep", "id_dup",
                        _fq("jaccard").alias("jaccard"))


def _oracle_paraphrase_pairs() -> str:
    n, lo, hi = 3, 0.35, 0.9
    return f"""
WITH src AS (SELECT * FROM {_paraphrase_frame_sql()} s(doc_id, text)),
toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM src),
sh AS (SELECT doc_id, {_shingle_sql(n)} AS sh FROM toks),
hs AS (SELECT doc_id, sh,
              list_sort(list_transform(sh, s -> {_H60.format(x='s')}))
                AS hs
       FROM sh),
pre AS (SELECT doc_id, len(hs) AS sz,
               unnest(list_slice(hs, 1,
                      floor({1.0 - lo!r} * len(hs))::INT + 1)) AS kh
        FROM hs),
cand AS (
  SELECT DISTINCT l.doc_id AS id_keep, r.doc_id AS id_dup
  FROM pre l JOIN pre r
    ON l.kh = r.kh AND l.doc_id < r.doc_id
   AND l.sz >= {lo!r} * r.sz AND r.sz >= {lo!r} * l.sz),
pairs AS (
  SELECT c.id_keep, c.id_dup,
         len(list_intersect(l.sh, r.sh))::DOUBLE /
         len(list_distinct(list_concat(l.sh, r.sh))) AS jaccard
  FROM cand c JOIN hs l ON l.doc_id = c.id_keep
              JOIN hs r ON r.doc_id = c.id_dup)
SELECT id_keep, id_dup, floor((jaccard) * 1e{R} + 0.5) / 1e{R} AS jaccard
FROM pairs WHERE jaccard >= {lo!r} AND jaccard < {hi!r}
"""


def q_temperature_mix_documents(spark, sf_dir):
    """TemperatureMixer gate: τ=0.7 domain mixture over lang with a
    1M-token budget — one corpus aggregation + O(domains) math."""
    from flink_ml__spark.functions.curation import TemperatureMixer

    docs = load_table(spark, "documents", sf_dir)
    return (TemperatureMixer().setGroupCol("lang").setTemperature(0.7)
            .setTokenBudget(1_000_000).transform(docs))


ORACLE_TEMPERATURE_MIX = f"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         sum(len(coalesce({_TOK_SQL}, [])))::BIGINT AS n_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT sum(n_tokens)::DOUBLE AS t FROM per),
p AS (SELECT per.*, n_tokens / tot.t AS p_raw FROM per CROSS JOIN tot),
z AS (SELECT sum(p_raw ^ 0.7) AS z FROM p)
SELECT lang, n_docs, n_tokens,
       floor(p_raw * 1e6 + 0.5) / 1e6 AS p_raw,
       floor(p_raw ^ 0.7 / z.z * 1e6 + 0.5) / 1e6 AS weight,
       floor(p_raw ^ 0.7 / z.z * 1000000.0 * 1e2 + 0.5) / 1e2
         AS expected_tokens,
       floor(p_raw ^ 0.7 / z.z * 1000000.0 / n_tokens * 1e6 + 0.5) / 1e6
         AS sample_factor
FROM p CROSS JOIN z
"""


def q_unimax_alloc_documents(spark, sf_dir):
    """UniMaxAllocator gate: water-filling allocation of a
    1.15×-corpus token budget over the 20 sources with a 1.2-epoch
    cap — a mixed regime (the smallest domains hit their capacity,
    the rest share the water level τ), so the gate pins both branches
    of the closed form. The τ-vs-cap boundary comparisons are on
    doubles derived identically in both engines (integer counts ×
    the same literals), so the regime split replays bit-identically."""
    from flink_ml__spark.functions.curation import UniMaxAllocator

    docs = load_table(spark, "documents", sf_dir)
    total = (docs.filter(F.col("source").isNotNull())
             .agg(F.sum("n_chars")).collect()[0][0])
    return (UniMaxAllocator().setGroupCol("source")
            .setTokenCol("n_chars").setMaxEpochs(1.2)
            .setBudget(int(1.15 * float(total)))
            .transform(docs))


ORACLE_UNIMAX_ALLOC = """
WITH per AS (
  SELECT source AS g, count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS n_tokens
  FROM documents WHERE source IS NOT NULL GROUP BY 1),
tot AS (SELECT sum(n_tokens)::DOUBLE AS t, count(*)::BIGINT AS d
        FROM per),
base AS (SELECT per.*, 1.2 * n_tokens AS cap,
                floor(1.15 * tot.t) AS b, tot.d
         FROM per CROSS JOIN tot),
rk AS (SELECT *, row_number() OVER (ORDER BY cap, g) AS i,
              coalesce(sum(cap) OVER (ORDER BY cap, g
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0.0) AS pfx
       FROM base),
tau AS (SELECT *, (b - pfx) / (d - i + 1) AS tau FROM rk),
sel AS (SELECT min(CASE WHEN tau <= cap THEN i END) AS fi FROM tau),
lvl AS (SELECT max(CASE WHEN i = fi THEN tau END) AS lv
        FROM tau CROSS JOIN sel),
fin AS (SELECT t.*,
               CASE WHEN sel.fi IS NULL OR t.i < sel.fi
                    THEN t.cap ELSE lvl.lv END AS alloc
        FROM tau t CROSS JOIN sel CROSS JOIN lvl)
SELECT g AS source, n_docs, n_tokens,
       floor(cap * 1e2 + 0.5) / 1e2 AS cap,
       floor(alloc * 1e2 + 0.5) / 1e2 AS alloc,
       floor((CASE WHEN n_tokens > 0 THEN alloc / n_tokens END)
             * 1e6 + 0.5) / 1e6 AS epochs,
       floor(alloc / b * 1e6 + 0.5) / 1e6 AS weight
FROM fin
"""


def q_embedding_drift_embeddings(spark, sf_dir):
    """EmbeddingDriftMonitor gate: per-dimension moment drift between
    the even- and odd-id halves of the embeddings table, plus the
    mean-vector cosine summary row — one moment aggregate per side."""
    from flink_ml__spark.functions.drift import EmbeddingDriftMonitor

    emb = load_table(spark, "embeddings", sf_dir)
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    return EmbeddingDriftMonitor().compare(ref, cur)


ORACLE_EMBEDDING_DRIFT = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e
  FROM embeddings),
ex AS (SELECT vec_id % 2 AS side, i - 1 AS pos, e[i] AS v
       FROM base, unnest(generate_series(1, len(e))) AS u(i)),
m AS (SELECT side, pos, avg(v) AS mean,
             coalesce(stddev_samp(v), 0.0) AS std, count(*) AS n
      FROM ex GROUP BY 1, 2),
j AS (SELECT r.pos, r.mean AS mean_ref, c.mean AS mean_cur,
             r.std AS std_ref, c.std AS std_cur,
             r.n AS n_ref, c.n AS n_cur
      FROM (SELECT * FROM m WHERE side = 0) r
      JOIN (SELECT * FROM m WHERE side = 1) c ON r.pos = c.pos),
per_dim AS (
  SELECT pos, floor((mean_ref) * 1e6 + 0.5) / 1e6 AS mean_ref,
         floor((mean_cur) * 1e6 + 0.5) / 1e6 AS mean_cur,
         floor((std_ref) * 1e6 + 0.5) / 1e6 AS std_ref, floor((std_cur) * 1e6 + 0.5) / 1e6 AS std_cur,
         floor((CASE WHEN sqrt((std_ref*std_ref + std_cur*std_cur)/2) > 0
                    THEN abs(mean_cur - mean_ref)
                         / sqrt((std_ref*std_ref + std_cur*std_cur)/2)
                    ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS smd
  FROM j),
summary AS (
  SELECT -1 AS pos,
         max(n_ref)::DOUBLE AS mean_ref, max(n_cur)::DOUBLE AS mean_cur,
         0.0 AS std_ref, 0.0 AS std_cur,
         floor((CASE WHEN sqrt(sum(mean_ref*mean_ref)) > 0
                     AND sqrt(sum(mean_cur*mean_cur)) > 0
                    THEN sum(mean_ref*mean_cur)
                         / (sqrt(sum(mean_ref*mean_ref))
                            * sqrt(sum(mean_cur*mean_cur)))
                    ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS smd
  FROM j)
SELECT * FROM per_dim UNION ALL SELECT * FROM summary
"""


def q_otsu_threshold_documents(spark, sf_dir):
    """OtsuThreshold gate: automatic cutoff over the documents' size
    distribution (256-bin histogram + between-class-variance argmax,
    ranked on the range-normalized fixed-point key
    floor(bv/(hi-lo)^2 * 1e9 + 0.5) with lowest-cut ties — the
    normalization keeps the key inside int64 at any input magnitude)."""
    from flink_ml__spark.functions.stats import OtsuThreshold

    docs = load_table(spark, "documents", sf_dir)
    return (OtsuThreshold().setInputCol("n_chars").setNumBins(256)
            .transform(docs))


ORACLE_OTSU = """
WITH base AS (SELECT n_chars::DOUBLE AS x FROM documents
              WHERE n_chars IS NOT NULL),
lh AS (SELECT min(x) AS lo, max(x) AS hi FROM base),
b AS (SELECT CASE WHEN hi <= lo THEN 0
             ELSE least(floor((x - lo) / (hi - lo) * 256)::INT, 255)
             END AS bin, x, lo, hi
      FROM base CROSS JOIN lh),
h AS (SELECT bin, count(*) AS n, sum(x) AS s,
             any_value(lo) AS lo, any_value(hi) AS hi
      FROM b GROUP BY bin),
c AS (SELECT bin, lo, hi,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(s) OVER (ORDER BY bin) AS cs,
             sum(n) OVER () AS tn, sum(s) OVER () AS ts
      FROM h),
v AS (SELECT bin, lo, hi, cn, tn,
             CASE WHEN cn > 0 AND cn < tn THEN
               (cn::DOUBLE / tn) * (1 - cn::DOUBLE / tn)
               * ((cs / cn) - ((ts - cs) / (tn - cn)))
               * ((cs / cn) - ((ts - cs) / (tn - cn)))
             END AS bv
      FROM c),
r AS (SELECT *, row_number() OVER (
          ORDER BY floor(bv / ((hi - lo) * (hi - lo)) * 1e9 + 0.5)::BIGINT
                   DESC, bin ASC) AS rk
      FROM v WHERE bv IS NOT NULL)
SELECT floor((lo + (bin + 1) * (hi - lo) / 256) * 1e6 + 0.5) / 1e6
         AS threshold,
       floor(bv * 1e6 + 0.5) / 1e6 AS between_var,
       cn::BIGINT AS n_below, (tn - cn)::BIGINT AS n_above
FROM r WHERE rk = 1
"""


def q_gini_documents(spark, sf_dir):
    """GiniConcentration gate: how unequally corpus characters are
    distributed across languages — one O(groups) window + fold."""
    from flink_ml__spark.functions.stats import GiniConcentration

    docs = load_table(spark, "documents", sf_dir)
    return (GiniConcentration().setGroupCol("lang")
            .setWeightCol("n_chars").transform(docs))


ORACLE_GINI = """
WITH per AS (SELECT lang, sum(n_chars)::DOUBLE AS w
             FROM documents GROUP BY lang),
rk AS (SELECT w, row_number() OVER (ORDER BY w ASC, lang ASC) AS i,
              count(*) OVER () AS n
       FROM per)
SELECT count(*)::BIGINT AS n_groups,
       floor((sum(w)) * 1e6 + 0.5) / 1e6 AS total,
       floor((sum((2 * i - n - 1) * w) / (count(*) * sum(w))) * 1e6 + 0.5) / 1e6 AS gini
FROM rk
"""


def q_spearman_lineitem(spark, sf_dir):
    """SpearmanCorrelation gate: tie-corrected rank correlation over
    three lineitem numerics — distinct-value rank tables + join back,
    one aggregate for every pair."""
    from flink_ml__spark.functions.stats import SpearmanCorrelation

    li = load_table(spark, "lineitem", sf_dir)
    return (SpearmanCorrelation()
            .setInputCols("l_quantity", "l_extendedprice", "l_discount")
            .transform(li))


ORACLE_SPEARMAN = """
WITH base AS (
  SELECT l_quantity AS a, l_extendedprice AS b, l_discount AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL),
ra AS (SELECT a AS v, sum(count(*)) OVER (ORDER BY a)
              - (count(*) - 1) / 2.0 AS r
       FROM base GROUP BY a),
rb AS (SELECT b AS v, sum(count(*)) OVER (ORDER BY b)
              - (count(*) - 1) / 2.0 AS r
       FROM base GROUP BY b),
rc AS (SELECT c AS v, sum(count(*)) OVER (ORDER BY c)
              - (count(*) - 1) / 2.0 AS r
       FROM base GROUP BY c),
j AS (SELECT ra.r AS xa, rb.r AS xb, rc.r AS xc
      FROM base
      JOIN ra ON base.a = ra.v
      JOIN rb ON base.b = rb.v
      JOIN rc ON base.c = rc.v)
SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
       count(*)::BIGINT AS n, floor((corr(xa, xb)) * 1e6 + 0.5) / 1e6 AS rho FROM j
UNION ALL
SELECT 'l_quantity', 'l_discount', count(*)::BIGINT,
       floor((corr(xa, xc)) * 1e6 + 0.5) / 1e6 FROM j
UNION ALL
SELECT 'l_extendedprice', 'l_discount', count(*)::BIGINT,
       floor((corr(xb, xc)) * 1e6 + 0.5) / 1e6 FROM j
"""


def q_attribution_events(spark, sf_dir):
    """AttributionAnalyzer gate: first/last/linear conversion credit
    per channel over the events stream (journeys segment at purchase
    conversions; one window pass + O(channels) aggregates)."""
    from flink_ml__spark.functions.sessions import AttributionAnalyzer

    ev = load_table(spark, "events", sf_dir)
    return (AttributionAnalyzer().setConversionEvent("purchase")
            .transform(ev).orderBy("channel"))


ORACLE_ATTRIBUTION = """
WITH base AS (
  SELECT user_id AS k, event_type AS c, ts AS t, event_id AS tb,
         (event_type = 'purchase') AS is_conv
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
rows_ AS (
  SELECT *, coalesce(sum(is_conv::INT) OVER (
            PARTITION BY k ORDER BY t, tb
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS j
  FROM base),
journeys AS (
  SELECT k, j,
         sum(CASE WHEN NOT is_conv THEN 1 ELSE 0 END) AS nt,
         max(is_conv::INT) AS converted,
         first(c ORDER BY t, tb) FILTER (WHERE NOT is_conv) AS fc,
         last(c ORDER BY t, tb) FILTER (WHERE NOT is_conv) AS lc
  FROM rows_ GROUP BY k, j),
touched AS (SELECT * FROM journeys WHERE converted = 1 AND nt > 0),
firsts AS (SELECT fc AS channel, count(*) AS first_touch
           FROM touched GROUP BY 1),
lasts AS (SELECT lc AS channel, count(*) AS last_touch
          FROM touched GROUP BY 1),
credited AS (
  SELECT r.c AS channel, t2.nt
  FROM rows_ r JOIN touched t2 ON r.k = t2.k AND r.j = t2.j
  WHERE NOT r.is_conv),
lin AS (SELECT channel, count(*) AS n_touches,
               floor((sum(1.0 / nt)) * 1e6 + 0.5) / 1e6 AS linear_credit
        FROM credited GROUP BY 1),
per_channel AS (
  SELECT coalesce(lin.channel, firsts.channel, lasts.channel)
           AS channel,
         coalesce(n_touches, 0) AS n_touches,
         coalesce(first_touch, 0) AS first_touch,
         coalesce(last_touch, 0) AS last_touch,
         coalesce(linear_credit, 0.0) AS linear_credit
  FROM lin
  FULL JOIN firsts ON lin.channel = firsts.channel
  FULL JOIN lasts ON coalesce(lin.channel, firsts.channel)
                     = lasts.channel),
unattrib AS (
  SELECT '__unattributed__' AS channel, 0::BIGINT AS n_touches,
         count(*) AS first_touch, count(*) AS last_touch,
         0.0 AS linear_credit
  FROM journeys WHERE converted = 1 AND nt = 0
  HAVING count(*) > 0)
SELECT * FROM per_channel UNION ALL SELECT * FROM unattrib
"""


def q_fd_profile_orders(spark, sf_dir):
    """FunctionalDependencyProfiler gate: one holding FD (orderkey is
    the PK) and one broken FD (custkey fans out over priorities) in a
    single melt pass."""
    from flink_ml__spark.functions.linkage import (
        FunctionalDependencyProfiler,
    )

    orders = load_table(spark, "orders", sf_dir)
    return (FunctionalDependencyProfiler()
            .setRules("o_orderkey->o_custkey",
                      "o_custkey->o_orderpriority")
            .transform(orders))


ORACLE_FD_PROFILE = """
WITH cells AS (
  SELECT 'o_orderkey->o_custkey' AS rule,
         o_orderkey::VARCHAR AS k,
         coalesce(o_custkey::VARCHAR, '␀') AS v
  FROM orders WHERE o_orderkey IS NOT NULL
  UNION ALL
  SELECT 'o_custkey->o_orderpriority',
         o_custkey::VARCHAR,
         coalesce(o_orderpriority, '␀')
  FROM orders WHERE o_custkey IS NOT NULL),
pairs AS (SELECT DISTINCT rule, k, v FROM cells),
per_key AS (SELECT rule, k, count(*) AS nv FROM pairs GROUP BY 1, 2)
SELECT rule,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       floor((avg(CASE WHEN nv > 1 THEN 1.0 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6
         AS violation_rate,
       max(nv)::BIGINT AS max_fanout
FROM per_key GROUP BY rule
"""


def q_partition_health_orders(spark, sf_dir):
    """PartitionHealthAuditor gate: per order-month row counts, null
    rates of two key columns, and month-over-month row deltas — one
    melt aggregation + a lag window over the O(partitions) table."""
    from flink_ml__spark.functions.linkage import PartitionHealthAuditor

    orders = load_table(spark, "orders", sf_dir).withColumn(
        "ds", F.date_format("o_orderdate", "yyyy-MM"))
    return (PartitionHealthAuditor().setPartitionCol("ds")
            .setCheckCols("o_totalprice", "o_orderpriority")
            .transform(orders))


ORACLE_PARTITION_HEALTH = """
WITH per AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ds,
         count(*) AS n_rows,
         sum((o_totalprice IS NULL)::INT)::BIGINT AS n0,
         sum((o_orderpriority IS NULL)::INT)::BIGINT AS n1
  FROM orders GROUP BY 1),
lagged AS (
  SELECT *, lag(n_rows) OVER (ORDER BY ds) AS prev_n_rows FROM per)
SELECT ds, 'o_totalprice' AS column, n_rows, n0 AS n_null,
       floor(n0 / n_rows::DOUBLE * 1e6 + 0.5) / 1e6 AS null_frac,
       prev_n_rows,
       floor((n_rows - prev_n_rows) / prev_n_rows::DOUBLE * 1e6 + 0.5) / 1e6
         AS row_delta_frac
FROM lagged
UNION ALL
SELECT ds, 'o_orderpriority', n_rows, n1,
       floor(n1 / n_rows::DOUBLE * 1e6 + 0.5) / 1e6, prev_n_rows,
       floor((n_rows - prev_n_rows) / prev_n_rows::DOUBLE * 1e6 + 0.5) / 1e6
FROM lagged
"""


_NB_V = 4096


def q_nb_lang_documents(spark, sf_dir):
    """NaiveBayesTextClassifier gate: fit multinomial NB (hashed
    features, Laplace smoothing) on the documents table's lang labels,
    score the same corpus. Log-probabilities are FIXED-POINT int64
    (round(ln·1e6)), so scores are integer sums — bit-exact across
    Spark/numpy/DuckDB whatever the summation order, and every argmax
    tie breaks identically (smaller label)."""
    from flink_ml__spark.functions.bayes import NaiveBayesTextClassifier

    docs = load_table(spark, "documents", sf_dir)
    model = (NaiveBayesTextClassifier().setLabelCol("lang")
             .setNumFeatures(_NB_V).fit(docs))
    out = model.transform(docs)
    return out.select("doc_id", "nb_pred",
                      _fq("nb_score").alias("nb_score"))


ORACLE_NB_LANG = f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(coalesce({_TOK_SQL}, [])) AS t
  FROM documents),
tb AS (SELECT doc_id, lang,
              {_H60.format(x='t')} % {_NB_V} AS b
       FROM tok),
cell AS (SELECT lang AS l, b, count(*) AS n
         FROM tb WHERE lang IS NOT NULL GROUP BY 1, 2),
dc AS (SELECT lang AS l, count(*) AS d
       FROM documents WHERE lang IS NOT NULL GROUP BY 1),
tot AS (SELECT sum(d)::DOUBLE AS td FROM dc),
tokt AS (SELECT l, sum(n) AS tt FROM cell GROUP BY 1),
lbl AS (SELECT dc.l, dc.d, coalesce(tokt.tt, 0) AS tt
        FROM dc LEFT JOIN tokt ON dc.l = tokt.l),
prior AS (SELECT l,
                 round(ln(d / td) * 1000000)::BIGINT AS pr,
                 round(ln(1.0 / (tt + {_NB_V})) * 1000000)::BIGINT
                   AS dflt
          FROM lbl CROSS JOIN tot),
ll AS (SELECT cell.l, cell.b,
              round(ln((cell.n + 1.0) / (lbl.tt + {_NB_V}))
                    * 1000000)::BIGINT AS ll
       FROM cell JOIN lbl ON cell.l = lbl.l),
tsum AS (SELECT tb2.doc_id, p.l,
                sum(coalesce(ll.ll, p.dflt)) AS s
         FROM (SELECT doc_id, b FROM tb) tb2
         CROSS JOIN prior p
         LEFT JOIN ll ON ll.l = p.l AND ll.b = tb2.b
         GROUP BY 1, 2),
spine AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
sc AS (SELECT sp.doc_id, p.l,
              p.pr + coalesce(tsum.s, 0) AS s
       FROM spine sp CROSS JOIN prior p
       LEFT JOIN tsum ON tsum.doc_id = sp.doc_id AND tsum.l = p.l),
best AS (SELECT doc_id, l, s,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY s DESC, l ASC) AS rn
         FROM sc)
SELECT doc_id, l AS nb_pred, floor((s / 1000000.0) * 1e{R} + 0.5) / 1e{R} AS nb_score
FROM best WHERE rn = 1
UNION ALL
SELECT doc_id, NULL AS nb_pred, NULL AS nb_score
FROM documents WHERE text IS NULL
"""


def q_welch_ttest_events(spark, sf_dir):
    """Welch unequal-variance t-test gate: purchase vs click event
    values — per-side (n, Σy, Σy²) from ONE conditional aggregation,
    t / Welch–Satterthwaite dof replay exactly in SQL."""
    from flink_ml__spark.functions.stats import WelchTTest

    ev = load_table(spark, "events", sf_dir)
    out = (WelchTTest().setValueCol("value").setGroupCol("event_type")
           .setGroups("purchase", "click").evaluate(ev))
    return out.select("n_a", "n_b",
                      _fq("mean_a").alias("mean_a"),
                      _fq("mean_b").alias("mean_b"),
                      _fq("t_stat").alias("t_stat"),
                      _fq("dof").alias("dof"),
                      "significant")


ORACLE_WELCH_TTEST = f"""
WITH t AS (
  SELECT count(CASE WHEN event_type = 'purchase' THEN value END)::BIGINT
             AS na,
         sum(CASE WHEN event_type = 'purchase'
                  THEN value::DOUBLE END) AS sa,
         sum(CASE WHEN event_type = 'purchase'
                  THEN value::DOUBLE ^ 2 END) AS ssa,
         count(CASE WHEN event_type = 'click' THEN value END)::BIGINT
             AS nb,
         sum(CASE WHEN event_type = 'click'
                  THEN value::DOUBLE END) AS sb,
         sum(CASE WHEN event_type = 'click'
                  THEN value::DOUBLE ^ 2 END) AS ssb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
m AS (
  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
         (ssa - sa * sa / na) / (na - 1) / na AS van,
         (ssb - sb * sb / nb) / (nb - 1) / nb AS vbn
  FROM t),
s AS (
  SELECT *, CASE WHEN na > 1 AND nb > 1 AND van + vbn > 0
                 THEN (ma - mb) / sqrt(van + vbn) END AS tt
  FROM m)
SELECT na AS n_a, nb AS n_b,
       floor((ma) * 1e{R} + 0.5) / 1e{R} AS mean_a, floor((mb) * 1e{R} + 0.5) / 1e{R} AS mean_b,
       floor((tt) * 1e{R} + 0.5) / 1e{R} AS t_stat,
       floor((CASE WHEN tt IS NOT NULL
                  THEN (van + vbn) ^ 2
                       / (van * van / (na - 1) + vbn * vbn / (nb - 1))
             END) * 1e{R} + 0.5) / 1e{R} AS dof,
       coalesce(abs(tt) > 1.96, false) AS significant
FROM s
"""


_TREND_SQL_SERIES = """
per AS (SELECT event_type AS k,
               floor(epoch_us(ts) / 86400000000.0)::BIGINT AS b,
               avg(value::DOUBLE) AS y
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
              AND event_type IS NOT NULL
        GROUP BY 1, 2),
rec AS (SELECT k, b, y FROM (
          SELECT *, row_number() OVER (PARTITION BY k
                                       ORDER BY b DESC) AS r
          FROM per)
        WHERE r <= 16)
"""


def q_theilsen_events(spark, sf_dir):
    """Theil–Sen robust trend gate: median pairwise slope of the daily
    mean event value per event_type over the 16 most recent days —
    bucket grid, recency bound, pairwise slopes and interpolated
    medians all replay exactly in SQL."""
    from flink_ml__spark.functions.timeseries import TheilSenTrendEstimator

    ev = load_table(spark, "events", sf_dir)
    out = (TheilSenTrendEstimator().setKeyCol("event_type")
           .setTimeCol("ts").setValueCol("value")
           .setBucketWidthSec(86400.0).setMaxBuckets(16).transform(ev))
    return out.select("event_type", "n_points", "n_pairs",
                      _fq("slope").alias("slope"),
                      _fq("intercept").alias("intercept"))


ORACLE_THEILSEN = f"""
WITH {_TREND_SQL_SERIES},
meds AS (SELECT k, count(*)::BIGINT AS n_points,
                quantile_cont(y, 0.5) AS my,
                quantile_cont(b::DOUBLE, 0.5) AS mb
         FROM rec GROUP BY 1),
sl AS (SELECT a.k AS k, count(*)::BIGINT AS n_pairs,
              quantile_cont((c.y - a.y) / (c.b - a.b), 0.5) AS slope
       FROM rec a JOIN rec c ON a.k = c.k AND a.b < c.b
       GROUP BY 1)
SELECT meds.k AS event_type, n_points, n_pairs,
       floor((slope) * 1e{R} + 0.5) / 1e{R} AS slope,
       floor((my - slope * mb) * 1e{R} + 0.5) / 1e{R} AS intercept
FROM meds JOIN sl ON meds.k = sl.k
"""


def q_mann_kendall_events(spark, sf_dir):
    """Mann–Kendall monotonic-trend gate on the same bounded daily
    grid as the Theil–Sen gate: S, tie-corrected Var(S) and the
    continuity-corrected z replay exactly in SQL."""
    from flink_ml__spark.functions.timeseries import MannKendallTrendTest

    ev = load_table(spark, "events", sf_dir)
    out = (MannKendallTrendTest().setKeyCol("event_type")
           .setTimeCol("ts").setValueCol("value")
           .setBucketWidthSec(86400.0).setMaxBuckets(16).transform(ev))
    return out.select("event_type", "n_points", "s_stat",
                      _fq("var_s").alias("var_s"),
                      _fq("z_stat").alias("z_stat"), "trend")


ORACLE_MANN_KENDALL = f"""
WITH {_TREND_SQL_SERIES},
s AS (SELECT a.k AS k,
             sum(sign(c.y - a.y))::BIGINT AS s_stat
      FROM rec a JOIN rec c ON a.k = c.k AND a.b < c.b
      GROUP BY 1),
n AS (SELECT k, count(*)::BIGINT AS n_points FROM rec GROUP BY 1),
ties AS (SELECT k, sum(t * (t - 1) * (2 * t + 5)) AS tie
         FROM (SELECT k, y, count(*) AS t FROM rec GROUP BY 1, 2)
         GROUP BY 1),
j AS (SELECT n.k, n_points, s_stat,
             (n_points * (n_points - 1.0) * (2 * n_points + 5)
              - tie) / 18.0 AS var_s
      FROM n JOIN s ON n.k = s.k JOIN ties ON n.k = ties.k),
z AS (SELECT *, CASE WHEN var_s > 0 THEN
                  CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                       WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                       ELSE 0.0 END END AS zs
      FROM j)
SELECT k AS event_type, n_points, s_stat,
       floor((var_s) * 1e{R} + 0.5) / 1e{R} AS var_s, floor((zs) * 1e{R} + 0.5) / 1e{R} AS z_stat,
       CASE WHEN zs > 1.96 THEN 'increasing'
            WHEN zs < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM z
"""


def q_assortativity_events(spark, sf_dir):
    """Degree-assortativity gate over the same derived interaction
    graph as the triangle gate (user_id%97 — event_id%97, undirected):
    dedup, degree joins and the single moment aggregation replay
    exactly in SQL; the regular-graph zero-variance case is an
    explicit NULL on both engines."""
    from flink_ml__spark.functions.graph import DegreeAssortativity

    ev = load_table(spark, "events", sf_dir)
    edges = ev.select((F.col("user_id") % 97).alias("src"),
                      (F.col("event_id") % 97).alias("dst"))
    out = DegreeAssortativity().evaluate(edges)
    return out.select("n_nodes", "n_edges",
                      _fq("avg_degree").alias("avg_degree"),
                      _fq("assortativity").alias("assortativity"))


ORACLE_ASSORTATIVITY = f"""
WITH raw AS (SELECT user_id % 97 AS s, event_id % 97 AS t FROM events
             WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
und AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
        FROM raw WHERE s <> t),
adj AS (SELECT u AS node, v AS peer FROM und
        UNION ALL SELECT v, u FROM und),
deg AS (SELECT node, count(*)::BIGINT AS degree FROM adj GROUP BY 1),
pairs AS (SELECT dx.degree::DOUBLE AS x, dy.degree::DOUBLE AS y,
                 adj.peer AS peer
          FROM adj JOIN deg dx ON adj.node = dx.node
                   JOIN deg dy ON adj.peer = dy.node),
m AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
             count(DISTINCT peer)::BIGINT AS n_nodes
      FROM pairs)
SELECT n_nodes, (n / 2)::BIGINT AS n_edges,
       floor((n::DOUBLE / n_nodes) * 1e{R} + 0.5) / 1e{R} AS avg_degree,
       floor((CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END) * 1e{R} + 0.5) / 1e{R} AS assortativity
FROM m
"""


def q_compaction_plan_documents(spark, sf_dir):
    """Compaction-planning gate: first-fit-by-order grouping of the
    documents inventory per lang toward 4 KiB output groups — the
    window cumsum and the floor rule replay exactly in SQL."""
    from flink_ml__spark.functions.linkage import CompactionPlanner

    docs = load_table(spark, "documents", sf_dir)
    return (CompactionPlanner().setKeyCols("lang").setSizeCol("n_chars")
            .setOrderCol("doc_id").setTargetSize(4096).transform(docs))


ORACLE_COMPACTION_PLAN = """
WITH inv AS (
  SELECT lang, doc_id, n_chars,
         coalesce(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL)
SELECT lang, floor(cum_before / 4096.0)::BIGINT AS file_seq,
       count(*)::BIGINT AS n_items, sum(n_chars)::BIGINT AS total_size,
       min(doc_id) AS first_id, max(doc_id) AS last_id
FROM inv GROUP BY 1, 2
"""


def q_kaplan_meier_events(spark, sf_dir):
    """Kaplan–Meier gate: per-user time (days) from first event to
    first purchase, right-censored at the user's last event — the
    subject prep, the distinct-duration grid and the product-limit
    curve (exp-sum-log with the explicit died-out zero) all replay
    exactly in SQL."""
    from flink_ml__spark.functions.timeseries import KaplanMeierEstimator

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    per = ev.groupBy("user_id").agg(
        F.min("ts").alias("__first"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("__purchase"),
        F.max("ts").alias("__last"))
    subj = per.select(
        F.floor((F.unix_micros(F.coalesce("__purchase", "__last"))
                 - F.unix_micros("__first")) / F.lit(_DAY_US))
        .cast("double").alias("duration"),
        F.col("__purchase").isNotNull().alias("event"))
    out = KaplanMeierEstimator().evaluate(subj)
    return out.select(F.col("t").cast("bigint").alias("t_days"),
                      "n_risk", "n_events", "n_censored",
                      _fq("survival").alias("survival"))


ORACLE_KAPLAN_MEIER = f"""
WITH per AS (
  SELECT user_id, min(ts) AS fts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS pts,
         max(ts) AS lts
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1),
subj AS (
  SELECT floor((epoch_us(coalesce(pts, lts)) - epoch_us(fts))
               / 86400000000.0) AS t,
         pts IS NOT NULL AS ev
  FROM per),
grid AS (
  SELECT t, sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d,
         sum(CASE WHEN ev THEN 0 ELSE 1 END)::BIGINT AS c
  FROM subj WHERE t >= 0 GROUP BY 1),
w AS (
  SELECT *, (sum(d + c) OVER ()
             - coalesce(sum(d + c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            )::BIGINT AS n_risk
  FROM grid),
f AS (SELECT *, (n_risk - d) / n_risk::DOUBLE AS factor FROM w),
s AS (
  SELECT *, max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
                OVER (ORDER BY t) AS dead,
            sum(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
                OVER (ORDER BY t) AS ls
  FROM f)
SELECT t::BIGINT AS t_days, n_risk, d AS n_events, c AS n_censored,
       floor((CASE WHEN dead = 1 THEN 0.0 ELSE exp(ls) END) * 1e{R} + 0.5) / 1e{R}
           AS survival
FROM s
"""


_BOOT_REPLICAS = 64
_BOOT_SEED = 7


def q_bootstrap_ci_events(spark, sf_dir):
    """Deterministic Poisson-bootstrap gate: 95% CI for the mean event
    value, 64 replicas — the salted row hash, the per-replica LCG
    rescramble, the truncated Poisson(1) ladder and the replica-mean
    quantiles all replay exactly in SQL (the oracle is generated from
    the SAME coefficient schedule)."""
    from flink_ml__spark.functions.stats import PoissonBootstrapper

    ev = load_table(spark, "events", sf_dir)
    out = (PoissonBootstrapper().setIdCol("event_id")
           .setValueCol("value").setNumReplicas(_BOOT_REPLICAS)
           .setSeed(_BOOT_SEED).evaluate(ev))
    return out.select("n", _fq("mean").alias("mean"),
                      _fq("se").alias("se"),
                      _fq("ci_lo").alias("ci_lo"),
                      _fq("ci_hi").alias("ci_hi"),
                      "b_replicas")


def _oracle_bootstrap() -> str:
    from flink_ml__spark.functions.stats import (POISSON1_CDF,
                                                 PoissonBootstrapper)

    op = (PoissonBootstrapper().setNumReplicas(_BOOT_REPLICAS)
          .setSeed(_BOOT_SEED))
    m31 = 2147483647
    h = ("(('0x' || substring(md5(event_id::VARCHAR || ':boot:"
         f"{_BOOT_SEED}'), 1, 15))::BIGINT % {m31})")
    # truncated Poisson(1) ladder as a nested CASE
    def ladder(u):
        cases = " ".join(
            f"WHEN {u} < {p!r} THEN {k}"
            for k, p in enumerate(POISSON1_CDF))
        return f"(CASE {cases} ELSE 7 END)::DOUBLE"

    cols = []
    for b, (a, c) in enumerate(op.lcg_coefficients()):
        u = f"((({a} * {h} + {c}) % {m31}) / {float(m31)!r})"
        w = ladder(u)
        cols.append(f"sum({w} * value::DOUBLE) AS wx{b}")
        cols.append(f"sum({w}) AS w{b}")
    means = ", ".join(
        f"CASE WHEN w{b} > 0 THEN wx{b} / w{b} END"
        for b in range(_BOOT_REPLICAS))
    return f"""
WITH base AS (
  SELECT count(*)::BIGINT AS n, avg(value::DOUBLE) AS mean,
         {', '.join(cols)}
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
m AS (SELECT n, mean, unnest([{means}]) AS mm FROM base),
nn AS (SELECT n, mean, mm FROM m WHERE mm IS NOT NULL)
SELECT n, floor((mean) * 1e{R} + 0.5) / 1e{R} AS mean,
       floor((CASE WHEN count(*) > 1 THEN stddev_samp(mm) END) * 1e{R} + 0.5) / 1e{R} AS se,
       floor((quantile_cont(mm, 0.025)) * 1e{R} + 0.5) / 1e{R} AS ci_lo,
       floor((quantile_cont(mm, 0.975)) * 1e{R} + 0.5) / 1e{R} AS ci_hi,
       count(*)::BIGINT AS b_replicas
FROM nn GROUP BY n, mean
"""


ORACLE_BOOTSTRAP_CI = _oracle_bootstrap()


def q_overlap_invariants_events(spark, sf_dir):
    """Violations-only gate for HLL inclusion–exclusion set overlap:
    distinct purchase-users ∩ click-users. Each sketch leg must stay
    within 5× rsd (0.02) of its exact count computed in the SAME
    aggregation pass, the derived intersection within 20% (leg errors
    compound through |A|+|B|−|A∪B|). Expected EMPTY."""
    from flink_ml__spark.functions.sketches import SketchOverlapEstimator

    ev = load_table(spark, "events", sf_dir)
    rep = (SketchOverlapEstimator().setKeyCol("user_id")
           .setLabelCol("event_type").setLabels("purchase", "click")
           .setRelativeSD(0.02).error_report(ev))
    bad = ((F.col("a_rel_err") > 0.1) | (F.col("b_rel_err") > 0.1)
           | (F.col("u_rel_err") > 0.1) | (F.col("i_rel_err") > 0.2))
    return rep.filter(bad).select(
        _fq("a_rel_err").alias("a_rel_err"),
        _fq("b_rel_err").alias("b_rel_err"),
        _fq("u_rel_err").alias("u_rel_err"),
        _fq("i_rel_err").alias("i_rel_err"))


ORACLE_OVERLAP_INVARIANTS = """
SELECT 0.0::DOUBLE AS a_rel_err, 0.0::DOUBLE AS b_rel_err,
       0.0::DOUBLE AS u_rel_err, 0.0::DOUBLE AS i_rel_err
FROM events WHERE false
"""


def q_conformal_events(spark, sf_dir):
    """Split-conformal gate (Mondrian by event_type, α=0.1): per-type
    mean fitted on event_id%4∈{0,2}, residual quantile calibrated on
    %4=1 via the EXACT ⌈(n+1)(1−α)⌉ order statistic, coverage
    evaluated on %4=3 — the whole protocol replays in SQL."""
    from flink_ml__spark.functions.evaluation import SplitConformalRegressor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull())
    train = ev.filter(F.col("event_id") % 4 % 2 == 0)
    preds = train.groupBy("event_type").agg(
        F.avg(F.col("value").cast("double")).alias("prediction"))
    cal = (ev.filter(F.col("event_id") % 4 == 1)
           .join(preds, "event_type"))
    test = (ev.filter(F.col("event_id") % 4 == 3)
            .join(preds, "event_type"))
    model = (SplitConformalRegressor().setPredCol("prediction")
             .setLabelCol("value").setGroupCols("event_type")
             .setAlpha(0.1).fit(cal))
    out = model.evaluate(test, "value")
    return out.select("event_type", "n_cal",
                      _fq("q_hat").alias("q_hat"), "n_test",
                      _fq("coverage").alias("coverage"),
                      _fq("avg_width").alias("avg_width"))


ORACLE_CONFORMAL = f"""
WITH tr AS (
  SELECT event_type, avg(value::DOUBLE) AS pred FROM events
  WHERE event_id % 4 % 2 = 0 AND value IS NOT NULL GROUP BY 1),
cal AS (
  SELECT e.event_type, abs(e.value::DOUBLE - tr.pred) AS r
  FROM events e JOIN tr USING (event_type)
  WHERE e.event_id % 4 = 1 AND e.value IS NOT NULL),
rk AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_cal
  FROM cal),
q AS (
  SELECT event_type, n_cal,
         CASE WHEN ceil((n_cal + 1) * 0.9) <= n_cal THEN r END AS q_hat
  FROM rk
  WHERE rn = least(ceil((n_cal + 1) * 0.9)::BIGINT, n_cal)),
te AS (
  SELECT e.event_type, e.value::DOUBLE AS y, tr.pred
  FROM events e JOIN tr USING (event_type)
  WHERE e.event_id % 4 = 3 AND e.value IS NOT NULL)
SELECT q.event_type, n_cal, floor((q_hat) * 1e{R} + 0.5) / 1e{R} AS q_hat,
       count(*)::BIGINT AS n_test,
       floor((avg(CASE WHEN abs(y - pred) <= q_hat
                      THEN 1 ELSE 0 END)) * 1e{R} + 0.5) / 1e{R} AS coverage,
       floor((avg(2 * q_hat)) * 1e{R} + 0.5) / 1e{R} AS avg_width
FROM te JOIN q ON te.event_type = q.event_type
WHERE q_hat IS NOT NULL
GROUP BY q.event_type, n_cal, q_hat
"""


def q_welch_window_events(spark, sf_dir):
    """Per-day windowed Welch t (purchase vs click) with a 1.5× scale
    planted on purchase values every 7th day (same plant family as the
    KS/PSI window gates, so some windows flip significant) — every
    window's side moments, t and Welch dof replay exactly in SQL. The
    SAME code path runs on an unbounded stream
    (`streaming.stream_welch_monitor`, parity-tested)."""
    from flink_ml__spark.streaming.online import stream_welch_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    cur = ev.withColumn(
        "value",
        F.when((day % 7 == 3) & (F.col("event_type") == "purchase"),
               F.col("value") * 1.5).otherwise(F.col("value")))
    out = stream_welch_monitor(cur, "ts", "value", "event_type",
                               "purchase", "click", window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "n_a", "n_b",
                      _fq("mean_a").alias("mean_a"),
                      _fq("mean_b").alias("mean_b"),
                      _fq("t_stat").alias("t_stat"),
                      _fq("dof").alias("dof"), "significant")


ORACLE_WELCH_WINDOW = f"""
WITH base AS (
  SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS win_us,
         event_type AS g,
         CASE WHEN (epoch_us(ts) // {_DAY_US}) % 7 = 3
                   AND event_type = 'purchase'
              THEN value::DOUBLE * 1.5 ELSE value::DOUBLE END AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
        AND event_type IN ('purchase', 'click')),
w AS (
  SELECT win_us,
         sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = 'purchase' THEN y ELSE 0 END) AS sa,
         sum(CASE WHEN g = 'purchase' THEN y * y ELSE 0 END) AS qa,
         sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT AS nb,
         sum(CASE WHEN g = 'click' THEN y ELSE 0 END) AS sb,
         sum(CASE WHEN g = 'click' THEN y * y ELSE 0 END) AS qb
  FROM base GROUP BY 1),
m AS (
  SELECT win_us, na, nb,
         CASE WHEN na > 0 THEN sa / na END AS ma,
         CASE WHEN nb > 0 THEN sb / nb END AS mb,
         CASE WHEN na > 1
              THEN (qa - sa * sa / na) / (na - 1) / na END AS van,
         CASE WHEN nb > 1
              THEN (qb - sb * sb / nb) / (nb - 1) / nb END AS vbn
  FROM w),
s AS (
  SELECT *, CASE WHEN na > 1 AND nb > 1 AND van + vbn > 0
                 THEN (ma - mb) / sqrt(van + vbn) END AS tt
  FROM m)
SELECT win_us, na AS n_a, nb AS n_b,
       floor((ma) * 1e{R} + 0.5) / 1e{R} AS mean_a, floor((mb) * 1e{R} + 0.5) / 1e{R} AS mean_b,
       floor((tt) * 1e{R} + 0.5) / 1e{R} AS t_stat,
       floor((CASE WHEN tt IS NOT NULL
                  THEN (van + vbn) ^ 2
                       / (van * van / (na - 1) + vbn * vbn / (nb - 1))
             END) * 1e{R} + 0.5) / 1e{R} AS dof,
       coalesce(abs(tt) > 1.96, false) AS significant
FROM s
"""


def q_cuped_events(spark, sf_dir):
    """CUPED gate: per-user pre-period covariate (mean value, days
    1–15 of the 30-day table) vs experiment metric (mean value, days
    16–30), synthetic variant = user_id parity — θ, both diffs and
    the variance reduction replay exactly in SQL. (19738 = epoch-day
    of 2024-01-16, the table's fixed midpoint.)"""
    from flink_ml__spark.functions.stats import CupedAdjuster

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    v = F.col("value").cast("double")
    units = (ev.groupBy("user_id")
             .agg(F.avg(F.when(day < 19738, v)).alias("x"),
                  F.avg(F.when(day >= 19738, v)).alias("y"))
             .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
             .select(F.when(F.col("user_id") % 2 == 0, "t")
                     .otherwise("c").alias("variant"), "x", "y"))
    out = (CupedAdjuster().setMetricCol("y").setCovariateCol("x")
           .setVariants("t", "c").evaluate(units))
    return out.select("n_a", "n_b",
                      _fq("theta").alias("theta"),
                      _fq("diff_raw").alias("diff_raw"),
                      _fq("diff_adj").alias("diff_adj"),
                      _fq("var_y").alias("var_y"),
                      _fq("var_y_adj").alias("var_y_adj"),
                      _fq("var_reduction").alias("var_reduction"))


ORACLE_CUPED = f"""
WITH units AS (
  SELECT user_id % 2 = 0 AS is_t,
         avg(CASE WHEN epoch_us(ts) // {_DAY_US} < 19738
                  THEN value::DOUBLE END) AS x,
         avg(CASE WHEN epoch_us(ts) // {_DAY_US} >= 19738
                  THEN value::DOUBLE END) AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id),
u AS (SELECT * FROM units WHERE x IS NOT NULL AND y IS NOT NULL),
m AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN is_t THEN y ELSE 0 END) AS sya,
         sum(CASE WHEN is_t THEN x ELSE 0 END) AS sxa,
         sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END)::BIGINT AS nb,
         sum(CASE WHEN NOT is_t THEN y ELSE 0 END) AS syb,
         sum(CASE WHEN NOT is_t THEN x ELSE 0 END) AS sxb
  FROM u),
d AS (
  SELECT na, nb,
         (sxx - sx * sx / n) / (n - 1) AS vx,
         (syy - sy * sy / n) / (n - 1) AS vy,
         (sxy - sx * sy / n) / (n - 1) AS cv,
         sya / na AS ma, syb / nb AS mb,
         sxa / na AS mxa, sxb / nb AS mxb
  FROM m WHERE n > 0),
t AS (SELECT *, CASE WHEN vx > 0 THEN cv / vx END AS theta FROM d)
SELECT na AS n_a, nb AS n_b, floor((theta) * 1e{R} + 0.5) / 1e{R} AS theta,
       floor((ma - mb) * 1e{R} + 0.5) / 1e{R} AS diff_raw,
       floor((ma - mb - theta * (mxa - mxb)) * 1e{R} + 0.5) / 1e{R} AS diff_adj,
       floor((vy) * 1e{R} + 0.5) / 1e{R} AS var_y,
       floor((vy + theta * theta * vx - 2 * theta * cv) * 1e{R} + 0.5) / 1e{R}
           AS var_y_adj,
       floor((CASE WHEN vy > 0
                  THEN 1 - (vy + theta * theta * vx - 2 * theta * cv)
                       / vy END) * 1e{R} + 0.5) / 1e{R} AS var_reduction
FROM t
"""


def q_session_paths_events(spark, sf_dir):
    """Top session entry paths (first 3 event types per 30-minute-gap
    session) — the lag/cumsum session split, the (time, id) in-session
    order, the prefix strings and the bounded top-20 replay exactly in
    SQL."""
    from flink_ml__spark.functions.sessions import SessionPathAnalyzer

    ev = load_table(spark, "events", sf_dir)
    out = (SessionPathAnalyzer().setGapSec(1800).setPathLen(3)
           .setTopN(20).transform(ev))
    return out.select("path", "n_sessions",
                      _fq("share").alias("share"), "rank")


ORACLE_SESSION_PATHS = f"""
WITH base AS (
  SELECT user_id AS k, epoch_us(ts) AS us, event_type AS ty,
         event_id AS id
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL AND event_id IS NOT NULL),
lagged AS (
  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY k
                                         ORDER BY us, id)
                      > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM base),
tagged AS (
  SELECT *, sum(new_s) OVER (PARTITION BY k ORDER BY us, id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM lagged),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k, sid
                               ORDER BY us, id) AS rn
  FROM tagged),
paths AS (
  SELECT k, sid, string_agg(ty, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3 GROUP BY 1, 2),
counts AS (SELECT path, count(*)::BIGINT AS n_sessions
           FROM paths GROUP BY 1),
tot AS (SELECT sum(n_sessions)::DOUBLE AS t FROM counts),
rk AS (
  SELECT path, n_sessions, n_sessions / t AS share,
         row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rnk
  FROM counts CROSS JOIN tot)
SELECT path, n_sessions, floor((share) * 1e{R} + 0.5) / 1e{R} AS share, rnk AS "rank"
FROM rk WHERE rnk <= 20
"""


def q_did_events(spark, sf_dir):
    """Difference-in-differences gate: user-parity variants × the
    table's fixed day-16 period split — all four cell moments, the
    DiD estimate and the 4-cell SE replay exactly in SQL."""
    from flink_ml__spark.functions.stats import DiffInDiffAnalyzer

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    pre = ev.select(
        F.when(F.col("user_id") % 2 == 0, "t").otherwise("c")
        .alias("variant"),
        (day >= 19738).alias("post"), F.col("value").alias("y"))
    out = (DiffInDiffAnalyzer().setMetricCol("y")
           .setGroupCol("variant").setTreatedLabel("t")
           .setPostCol("post").evaluate(pre))
    return out.select(
        "n_tpre", "n_tpost", "n_cpre", "n_cpost",
        _fq("mean_tpre").alias("mean_tpre"),
        _fq("mean_tpost").alias("mean_tpost"),
        _fq("mean_cpre").alias("mean_cpre"),
        _fq("mean_cpost").alias("mean_cpost"),
        _fq("did").alias("did"), _fq("se").alias("se"),
        "significant")


ORACLE_DID = f"""
WITH base AS (
  SELECT user_id % 2 = 0 AS is_t,
         epoch_us(ts) // {_DAY_US} >= 19738 AS post,
         value::DOUBLE AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
m AS (
  SELECT
    count(CASE WHEN is_t AND NOT post THEN y END)::BIGINT AS n_tpre,
    sum(CASE WHEN is_t AND NOT post THEN y END) AS s_tpre,
    sum(CASE WHEN is_t AND NOT post THEN y * y END) AS q_tpre,
    count(CASE WHEN is_t AND post THEN y END)::BIGINT AS n_tpost,
    sum(CASE WHEN is_t AND post THEN y END) AS s_tpost,
    sum(CASE WHEN is_t AND post THEN y * y END) AS q_tpost,
    count(CASE WHEN NOT is_t AND NOT post THEN y END)::BIGINT AS n_cpre,
    sum(CASE WHEN NOT is_t AND NOT post THEN y END) AS s_cpre,
    sum(CASE WHEN NOT is_t AND NOT post THEN y * y END) AS q_cpre,
    count(CASE WHEN NOT is_t AND post THEN y END)::BIGINT AS n_cpost,
    sum(CASE WHEN NOT is_t AND post THEN y END) AS s_cpost,
    sum(CASE WHEN NOT is_t AND post THEN y * y END) AS q_cpost
  FROM base),
d AS (
  SELECT *,
    s_tpre / n_tpre AS m_tpre, s_tpost / n_tpost AS m_tpost,
    s_cpre / n_cpre AS m_cpre, s_cpost / n_cpost AS m_cpost,
    (q_tpre - s_tpre * s_tpre / n_tpre) / (n_tpre - 1) / n_tpre
      + (q_tpost - s_tpost * s_tpost / n_tpost) / (n_tpost - 1) / n_tpost
      + (q_cpre - s_cpre * s_cpre / n_cpre) / (n_cpre - 1) / n_cpre
      + (q_cpost - s_cpost * s_cpost / n_cpost) / (n_cpost - 1) / n_cpost
      AS se2
  FROM m)
SELECT n_tpre, n_tpost, n_cpre, n_cpost,
       floor((m_tpre) * 1e{R} + 0.5) / 1e{R} AS mean_tpre,
       floor((m_tpost) * 1e{R} + 0.5) / 1e{R} AS mean_tpost,
       floor((m_cpre) * 1e{R} + 0.5) / 1e{R} AS mean_cpre,
       floor((m_cpost) * 1e{R} + 0.5) / 1e{R} AS mean_cpost,
       floor(((m_tpost - m_tpre) - (m_cpost - m_cpre)) * 1e{R} + 0.5) / 1e{R} AS did,
       floor((sqrt(se2)) * 1e{R} + 0.5) / 1e{R} AS se,
       coalesce(abs((m_tpost - m_tpre) - (m_cpost - m_cpre))
                > 1.96 * sqrt(se2), false) AS significant
FROM d
"""


def q_covariate_balance_events(spark, sf_dir):
    """Covariate-balance gate: per-user pre-period mean value and
    activity count, SMD between the parity variants — melt, moments
    and the 0.1 flag replay exactly in SQL."""
    from flink_ml__spark.functions.stats import CovariateBalanceChecker

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    units = (ev.filter(day < 19738)
             .groupBy("user_id")
             .agg(F.avg(F.col("value").cast("double"))
                  .alias("pre_mean"),
                  F.count(F.lit(1)).cast("double").alias("pre_events"))
             .select(F.when(F.col("user_id") % 2 == 0, "t")
                     .otherwise("c").alias("variant"),
                     "pre_mean", "pre_events"))
    out = (CovariateBalanceChecker()
           .setInputCols("pre_mean", "pre_events")
           .setVariantCol("variant").setLabels("t", "c")
           .evaluate(units))
    return out.select("covariate", "n_t", "n_c",
                      _fq("mean_t").alias("mean_t"),
                      _fq("mean_c").alias("mean_c"),
                      _fq("smd").alias("smd"), "imbalanced")


ORACLE_COVARIATE_BALANCE = f"""
WITH units AS (
  SELECT user_id % 2 = 0 AS is_t,
         avg(value::DOUBLE) AS pre_mean,
         count(*)::DOUBLE AS pre_events
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
        AND epoch_us(ts) // {_DAY_US} < 19738
  GROUP BY user_id),
melted AS (
  SELECT is_t, 'pre_mean' AS covariate, pre_mean AS x FROM units
  UNION ALL
  SELECT is_t, 'pre_events', pre_events FROM units),
m AS (
  SELECT covariate,
         count(CASE WHEN is_t THEN x END)::BIGINT AS n_t,
         sum(CASE WHEN is_t THEN x END) AS st,
         sum(CASE WHEN is_t THEN x * x END) AS qt,
         count(CASE WHEN NOT is_t THEN x END)::BIGINT AS n_c,
         sum(CASE WHEN NOT is_t THEN x END) AS sc,
         sum(CASE WHEN NOT is_t THEN x * x END) AS qc
  FROM melted WHERE x IS NOT NULL GROUP BY 1),
d AS (
  SELECT *, st / n_t AS mt, sc / n_c AS mc,
         sqrt(((qt - st * st / n_t) / (n_t - 1)
               + (qc - sc * sc / n_c) / (n_c - 1)) / 2) AS pooled
  FROM m)
SELECT covariate, n_t, n_c, floor((mt) * 1e{R} + 0.5) / 1e{R} AS mean_t,
       floor((mc) * 1e{R} + 0.5) / 1e{R} AS mean_c,
       floor((CASE WHEN pooled > 0 THEN (mt - mc) / pooled END) * 1e{R} + 0.5) / 1e{R}
           AS smd,
       coalesce(abs(CASE WHEN pooled > 0 THEN (mt - mc) / pooled END)
                > 0.1, false) AS imbalanced
FROM d
"""


def q_rbo_events(spark, sf_dir):
    """Rank-biased-overlap gate: per event_type, do the top-10 users
    by TOTAL VALUE agree with the top-10 by EVENT COUNT? Both rankings
    (deterministic user_id tie-break), the (query,doc) join, the
    per-doc sequence contributions and the (1−p) fold replay exactly
    in SQL."""
    from flink_ml__spark.functions.retrieval import (
        RankingOverlapEvaluator,
    )
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
        & F.col("event_type").isNotNull())
    agg = (ev.groupBy("event_type", "user_id")
           .agg(F.sum(F.col("value").cast("double")).alias("__s"),
                F.count(F.lit(1)).alias("__c")))
    wa = Window.partitionBy("event_type").orderBy(
        F.desc("__s"), F.asc("user_id"))
    wb = Window.partitionBy("event_type").orderBy(
        F.desc("__c"), F.asc("user_id"))
    a = (agg.withColumn("rank", F.row_number().over(wa))
         .filter(F.col("rank") <= 10)
         .select("event_type", "user_id", "rank"))
    b = (agg.withColumn("rank", F.row_number().over(wb))
         .filter(F.col("rank") <= 10)
         .select("event_type", "user_id", "rank"))
    out = (RankingOverlapEvaluator().setQueryCol("event_type")
           .setDocCol("user_id").setPersistence(0.9).setDepth(10)
           .evaluate(a, b))
    return out.select("event_type", "n_common",
                      _fq("overlap_k").alias("overlap_k"),
                      _fq("rbo").alias("rbo"))


ORACLE_RBO = f"""
WITH agg AS (
  SELECT event_type AS q, user_id AS d,
         sum(value::DOUBLE) AS s, count(*) AS c
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
        AND event_type IS NOT NULL
  GROUP BY 1, 2),
a AS (SELECT * FROM (
        SELECT q, d, row_number() OVER (PARTITION BY q
                     ORDER BY s DESC, d ASC) AS ra FROM agg)
      WHERE ra <= 10),
b AS (SELECT * FROM (
        SELECT q, d, row_number() OVER (PARTITION BY q
                     ORDER BY c DESC, d ASC) AS rb FROM agg)
      WHERE rb <= 10),
j AS (SELECT a.q AS q, greatest(ra, rb) AS m
      FROM a JOIN b ON a.q = b.q AND a.d = b.d),
contrib AS (SELECT q, unnest(generate_series(m, 10)) AS dep FROM j),
perq AS (SELECT q, {1.0 - 0.9!r} * sum(pow(0.9, dep - 1) / dep) AS rbo
         FROM contrib GROUP BY 1),
common AS (SELECT q, count(*)::BIGINT AS n_common FROM j GROUP BY 1),
qs AS (SELECT DISTINCT a.q FROM a JOIN b ON a.q = b.q)
SELECT qs.q AS event_type, coalesce(n_common, 0) AS n_common,
       floor((coalesce(n_common, 0) / 10.0) * 1e{R} + 0.5) / 1e{R} AS overlap_k,
       floor((coalesce(rbo, 0.0)) * 1e{R} + 0.5) / 1e{R} AS rbo
FROM qs LEFT JOIN common ON qs.q = common.q
        LEFT JOIN perq ON qs.q = perq.q
"""


def q_heaps_documents(spark, sf_dir):
    """Heaps'-law gate: 16 ID-range buckets over documents, cumulative
    (tokens, types) points and the log-log OLS fit replay exactly in
    SQL."""
    from flink_ml__spark.functions.curation import HeapsLawProfiler

    docs = load_table(spark, "documents", sf_dir)
    out = HeapsLawProfiler().setNumPoints(16).transform(docs)
    return out.select("n_docs", "n_tokens", "n_types", "n_points",
                      _fq("heaps_k").alias("heaps_k"),
                      _fq("heaps_beta").alias("heaps_beta"),
                      _fq("heaps_r2").alias("heaps_r2"))


ORACLE_HEAPS = f"""
WITH bounds AS (
  SELECT max(doc_id) AS mx, count(*)::BIGINT AS n_docs
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
exploded AS (
  SELECT least(15, floor(doc_id * 16 / (mx + 1)))::INT AS b,
         unnest(list_filter(string_split_regex(lower(text),
                '[^a-zA-Z0-9'']+'), x -> x <> '')) AS t
  FROM documents CROSS JOIN bounds
  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
occ AS (SELECT b, count(*)::BIGINT AS occ FROM exploded GROUP BY 1),
firsts AS (SELECT min(b) AS b, t FROM exploded GROUP BY t),
news AS (SELECT b, count(*)::BIGINT AS new FROM firsts GROUP BY 1),
pts AS (
  SELECT occ.b,
         sum(occ.occ) OVER (ORDER BY occ.b) AS cn,
         sum(coalesce(news.new, 0)) OVER (ORDER BY occ.b) AS cv
  FROM occ LEFT JOIN news ON occ.b = news.b),
lq AS (SELECT cn, cv,
              floor(ln(cn) * 1e6 + 0.5)::BIGINT AS lx,
              floor(ln(cv) * 1e6 + 0.5)::BIGINT AS ly
       FROM pts WHERE cn > 0),
fit AS (
  SELECT count(*)::BIGINT AS n_points,
         max(cn)::BIGINT AS n_tokens, max(cv)::BIGINT AS n_types,
         sum(lx)::BIGINT AS sx, sum(ly)::BIGINT AS sy,
         sum(lx * lx)::BIGINT AS sxx, sum(lx * ly)::BIGINT AS sxy,
         sum(ly * ly)::BIGINT AS syy
  FROM lq),
d AS (
  SELECT *, n_points::DOUBLE AS n,
         (n_points * sxx - sx * sx)::DOUBLE AS vx,
         (n_points * syy - sy * sy)::DOUBLE AS vy,
         (n_points * sxy - sx * sy)::DOUBLE AS cov
  FROM fit)
SELECT (SELECT n_docs FROM bounds) AS n_docs, n_tokens, n_types,
       n_points,
       floor((exp((sy - (CASE WHEN vx > 0 THEN cov / vx END) * sx)
                  / (n * 1e6))) * 1e{R} + 0.5) / 1e{R} AS heaps_k,
       floor((CASE WHEN vx > 0 THEN cov / vx END) * 1e{R} + 0.5) / 1e{R} AS heaps_beta,
       floor((CASE WHEN vx > 0 AND vy > 0
                  THEN cov * cov / (vx * vy) END) * 1e{R} + 0.5) / 1e{R} AS heaps_r2
FROM d
"""


def q_fdr_events(spark, sf_dir):
    """Benjamini–Hochberg gate composed over the windowed-KS battery:
    the per-day KS p-values (planted shift every 7th day) feed the BH
    rank/suffix-min machinery — ranks, q-values and discoveries replay
    exactly in SQL on top of the existing KS-window oracle."""
    from flink_ml__spark.functions.stats import FdrController

    base = q_ks_window_events(spark, sf_dir)
    out = (FdrController().setPCol("p_value").setAlpha(0.05)
           .setTieCols("win_us").transform(base))
    return out.select("win_us", "p_value", "p_rank",
                      _fq("q_value").alias("q_value"),
                      "discovery")


def _oracle_fdr() -> str:
    return f"""
WITH ks AS ({ORACLE_KS_WINDOW}),
t AS (SELECT win_us, p_value FROM ks
      WHERE p_value IS NOT NULL AND p_value BETWEEN 0 AND 1),
r AS (SELECT *, row_number() OVER (ORDER BY p_value, win_us) AS p_rank,
             count(*) OVER () AS n
      FROM t),
q AS (SELECT *, min(least(1.0, p_value * n / p_rank))
                OVER (ORDER BY p_rank ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS q_value
      FROM r)
SELECT win_us, p_value, p_rank, floor((q_value) * 1e{R} + 0.5) / 1e{R} AS q_value,
       q_value <= 0.05 AS discovery
FROM q
"""


ORACLE_FDR = _oracle_fdr()


def q_forecast_accuracy_events(spark, sf_dir):
    """Forecast-accuracy gate: the EWMA gate's per-user one-step
    forecasts rolled up per event_type — MAE/RMSE/sMAPE plus MASE
    against the per-user naive last-value benchmark, all replayed in
    SQL on the same truncated-EWMA machinery."""
    from flink_ml__spark.functions.timeseries import (
        ExponentialSmoother,
        ForecastAccuracyEvaluator,
    )

    ev = load_table(spark, "events", sf_dir)
    sm = (ExponentialSmoother().setKeyCol("user_id")
          .setTimeCol("event_id").setValueCol("value")
          .setAlpha(0.3).setMaxLag(50).transform(ev))
    out = (ForecastAccuracyEvaluator().setSeriesCol("user_id")
           .setTimeCol("event_id").setValueCol("value")
           .setForecastCol("forecast").setGroupCols("event_type")
           .evaluate(sm))
    return out.select("event_type", "n_forecasts",
                      _fq("mae").alias("mae"),
                      _fq("rmse").alias("rmse"),
                      _fq("smape").alias("smape"),
                      _fq("naive_mae").alias("naive_mae"),
                      _fq("mase").alias("mase"))


ORACLE_FORECAST_ACCURACY = f"""
WITH w AS (
  SELECT event_id, user_id, event_type, value,
         list_filter(list(value) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
             x -> x IS NOT NULL) AS xs
  FROM events),
e AS (
  SELECT event_id, user_id, event_type, value,
         CASE WHEN value IS NOT NULL AND len(xs) > 0 THEN
           list_sum(list_transform(xs,
               (x, i) -> x * pow(0.7, len(xs) - i)))
           / ((1 - pow(0.7, len(xs))) / 0.3)
         END AS ewma
  FROM w),
f AS (
  SELECT *,
         last_value(ewma IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS forecast,
         last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS naive
  FROM e),
terms AS (
  SELECT event_type,
         CASE WHEN value IS NOT NULL AND forecast IS NOT NULL
              THEN abs(value - forecast) END AS err,
         CASE WHEN value IS NOT NULL AND naive IS NOT NULL
              THEN abs(value - naive) END AS nerr,
         abs(value) + abs(forecast) AS sden
  FROM f),
g AS (
  SELECT event_type, count(err)::BIGINT AS n_forecasts,
         avg(err) AS mae, sqrt(avg(err * err)) AS rmse,
         avg(CASE WHEN err IS NOT NULL AND sden > 0
                  THEN 2 * err / sden END) AS smape,
         avg(nerr) AS naive_mae
  FROM terms GROUP BY 1)
SELECT event_type, n_forecasts, floor((mae) * 1e{R} + 0.5) / 1e{R} AS mae,
       floor((rmse) * 1e{R} + 0.5) / 1e{R} AS rmse, floor((smape) * 1e{R} + 0.5) / 1e{R} AS smape,
       floor((naive_mae) * 1e{R} + 0.5) / 1e{R} AS naive_mae,
       floor((CASE WHEN naive_mae > 0 THEN mae / naive_mae END) * 1e{R} + 0.5) / 1e{R}
           AS mase
FROM g
"""


_SURVIVAL_SUBJ_SQL = f"""
per AS (
  SELECT user_id, min(ts) AS fts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS pts,
         max(ts) AS lts
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1),
subj AS (
  SELECT user_id % 2 = 0 AS is_a,
         floor((epoch_us(coalesce(pts, lts)) - epoch_us(fts))
               / 86400000000.0) AS t,
         pts IS NOT NULL AS ev
  FROM per)
"""


def _survival_subjects(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    per = ev.groupBy("user_id").agg(
        F.min("ts").alias("__first"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("__purchase"),
        F.max("ts").alias("__last"))
    return per.select(
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
        .alias("grp"),
        F.floor((F.unix_micros(F.coalesce("__purchase", "__last"))
                 - F.unix_micros("__first")) / F.lit(_DAY_US))
        .cast("double").alias("duration"),
        F.col("__purchase").isNotNull().alias("event"))


def q_logrank_events(spark, sf_dir):
    """Log-rank gate: do even- and odd-id users reach their first
    purchase at the same rate? Same subject prep as the KM gate; the
    joint event-time grid, hypergeometric moments and z replay exactly
    in SQL."""
    from flink_ml__spark.functions.timeseries import LogRankTest

    subj = _survival_subjects(spark, sf_dir)
    out = (LogRankTest().setGroupCol("grp").setGroups("even", "odd")
           .evaluate(subj))
    return out.select("n_a", "n_b", "n_times", "observed_a",
                      _fq("expected_a").alias("expected_a"),
                      _fq("var_sum").alias("var_sum"),
                      _fq("z_stat").alias("z_stat"),
                      "significant")


ORACLE_LOGRANK = f"""
WITH {_SURVIVAL_SUBJ_SQL},
grid AS (
  SELECT t, sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d,
         sum(CASE WHEN ev AND is_a THEN 1 ELSE 0 END)::BIGINT AS da,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
         count(*)::BIGINT AS c
  FROM subj WHERE t >= 0 GROUP BY 1),
w AS (
  SELECT *,
    sum(c) OVER () - coalesce(sum(c) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt,
    sum(ca) OVER () - coalesce(sum(ca) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nat
  FROM grid),
staged AS (SELECT * FROM w WHERE d > 0),
tot AS (
  SELECT count(*)::BIGINT AS n_times, sum(da)::BIGINT AS observed_a,
         sum(d * nat / nt::DOUBLE) AS expected_a,
         sum(CASE WHEN nt > 1 THEN d * (nat / nt::DOUBLE)
                  * (1 - nat / nt::DOUBLE) * (nt - d) / (nt - 1.0)
                  ELSE 0.0 END) AS var_sum
  FROM staged),
counts AS (
  SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b
  FROM subj WHERE t >= 0),
z AS (SELECT *, CASE WHEN var_sum > 0 THEN
          (observed_a - expected_a) / sqrt(var_sum) END AS zs
      FROM counts CROSS JOIN tot)
SELECT n_a, n_b, n_times, observed_a,
       floor((expected_a) * 1e{R} + 0.5) / 1e{R} AS expected_a,
       floor((var_sum) * 1e{R} + 0.5) / 1e{R} AS var_sum, floor((zs) * 1e{R} + 0.5) / 1e{R} AS z_stat,
       coalesce(abs(zs) > 1.96, false) AS significant
FROM z
"""


def q_weibull_events(spark, sf_dir):
    """Weibull-plot gate over the same time-to-purchase subjects: the
    KM curve, the ln t / ln(−ln S) regression, shape/scale and fit r²
    replay exactly in SQL."""
    from flink_ml__spark.functions.timeseries import WeibullFitter

    subj = _survival_subjects(spark, sf_dir)
    out = WeibullFitter().evaluate(subj)
    return out.select("n_points",
                      _fq("weibull_shape").alias("weibull_shape"),
                      _fq("weibull_scale").alias("weibull_scale"),
                      _fq("fit_r2").alias("fit_r2"))


ORACLE_WEIBULL = f"""
WITH {_SURVIVAL_SUBJ_SQL},
grid AS (
  SELECT t, sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d,
         count(*)::BIGINT AS c
  FROM subj WHERE t >= 0 GROUP BY 1),
w AS (
  SELECT *, sum(c) OVER () - coalesce(sum(c) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM grid),
f AS (SELECT *, (n_risk - d) / n_risk::DOUBLE AS factor FROM w),
s AS (
  SELECT t, max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
                OVER (ORDER BY t) AS dead,
            sum(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
                OVER (ORDER BY t) AS ls
  FROM f),
km AS (SELECT t, CASE WHEN dead = 1 THEN 0.0 ELSE exp(ls) END AS surv
       FROM s),
pts AS (SELECT ln(t) AS x, ln(-ln(surv)) AS y FROM km
        WHERE surv > 0 AND surv < 1 AND t > 0),
m AS (
  SELECT count(*)::BIGINT AS n_points, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM pts),
d AS (
  SELECT *, n_points::DOUBLE AS n,
         n_points * sxx - sx * sx AS vx,
         n_points * syy - sy * sy AS vy,
         n_points * sxy - sx * sy AS cov
  FROM m),
k AS (SELECT *, CASE WHEN vx > 0 THEN cov / vx END AS kk FROM d)
SELECT n_points, floor((kk) * 1e{R} + 0.5) / 1e{R} AS weibull_shape,
       floor((CASE WHEN kk IS NOT NULL AND kk <> 0
                  THEN exp(-((sy - kk * sx) / n) / kk) END) * 1e{R} + 0.5) / 1e{R}
           AS weibull_scale,
       floor((CASE WHEN vx > 0 AND vy > 0
                  THEN cov * cov / (vx * vy) END) * 1e{R} + 0.5) / 1e{R} AS fit_r2
FROM k
"""


def q_srm_window_events(spark, sf_dir):
    """Per-day sample-ratio-mismatch guardrail over the parity variant
    split — every window's counts, χ² and the p=0.001 flag replay
    exactly in SQL. The SAME code path runs on an unbounded stream
    (`streaming.stream_srm_monitor`)."""
    from flink_ml__spark.streaming.online import stream_srm_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    tagged = ev.withColumn(
        "variant", F.when(F.col("user_id") % 2 == 0, "even")
        .otherwise("odd"))
    out = stream_srm_monitor(tagged, "ts", "variant", "even", "odd",
                             ratio_a=0.5, window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "n_a", "n_b",
                      _fq("expected_a").alias("expected_a"),
                      _fq("chi2").alias("chi2"), "srm")


ORACLE_SRM_WINDOW = f"""
WITH base AS (
  SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS win_us,
         user_id % 2 = 0 AS is_a
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
w AS (
  SELECT win_us,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b
  FROM base GROUP BY 1),
c AS (
  SELECT *, (n_a + n_b) * 0.5 AS ea,
         CASE WHEN n_a + n_b > 0 THEN
           (n_a - (n_a + n_b) * 0.5) ^ 2 / ((n_a + n_b) * 0.5)
           + (n_b - (n_a + n_b) * 0.5) ^ 2 / ((n_a + n_b) * 0.5)
         END AS chi2
  FROM w)
SELECT win_us, n_a, n_b, floor((ea) * 1e{R} + 0.5) / 1e{R} AS expected_a,
       floor((chi2) * 1e{R} + 0.5) / 1e{R} AS chi2,
       coalesce(chi2 > 10.828, false) AS srm
FROM c
"""


def _q_mde_zm() -> float:
    from flink_ml__spark.functions.stats import MdeCalculator

    return MdeCalculator().setAlpha(0.05).setPower(0.8).z_multiplier()


def q_mde_events(spark, sf_dir):
    """MDE gate: the smallest per-user mean-value lift detectable at
    α=0.05 / power 0.8 with the observed variance and parity split —
    the moment aggregation and the folded z multiplier replay exactly
    in SQL."""
    from flink_ml__spark.functions.stats import MdeCalculator

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    units = (ev.groupBy("user_id")
             .agg(F.avg(F.col("value").cast("double")).alias("y"))
             .select(F.when(F.col("user_id") % 2 == 0, "even")
                     .otherwise("odd").alias("variant"), "y"))
    out = (MdeCalculator().setMetricCol("y").setVariants("even", "odd")
           .setAlpha(0.05).setPower(0.8).evaluate(units))
    return out.select("n_a", "n_b", _fq("mean").alias("mean"),
                      _fq("sd").alias("sd"),
                      _fq("mde_abs").alias("mde_abs"),
                      _fq("mde_rel").alias("mde_rel"))


ORACLE_MDE = f"""
WITH units AS (
  SELECT user_id % 2 = 0 AS is_a, avg(value::DOUBLE) AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id),
m AS (
  SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b,
         count(*)::DOUBLE AS n, sum(y) AS s, sum(y * y) AS q
  FROM units),
d AS (
  SELECT n_a, n_b, s / n AS mean,
         CASE WHEN n > 1 THEN (q - s * s / n) / (n - 1) END AS var
  FROM m),
e AS (
  SELECT *, CASE WHEN n_a > 0 AND n_b > 0 AND var IS NOT NULL THEN
           {_q_mde_zm()!r} * sqrt(var * (1.0 / n_a + 1.0 / n_b)) END
           AS mde
  FROM d)
SELECT n_a, n_b, floor((mean) * 1e{R} + 0.5) / 1e{R} AS mean,
       floor((sqrt(var)) * 1e{R} + 0.5) / 1e{R} AS sd, floor((mde) * 1e{R} + 0.5) / 1e{R} AS mde_abs,
       floor((CASE WHEN abs(mean) > 0 THEN mde / abs(mean) END) * 1e{R} + 0.5) / 1e{R}
           AS mde_rel
FROM e
"""


def q_truncation_audit_embeddings(spark, sf_dir):
    """Matryoshka truncation audit gate: prefix-energy fractions at
    budgets 8/16/32 over the 64-dim embeddings — HOF energies, the
    interpolated 5th percentile and the per-budget explode replay
    exactly in SQL."""
    from flink_ml__spark.functions.similarity import (
        EmbeddingTruncationAuditor,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    out = (EmbeddingTruncationAuditor().setInputCol("embedding")
           .setBudgets(8, 16, 32).evaluate(emb))
    return out.select("dim_budget", "n_vecs",
                      _fq("avg_energy").alias("avg_energy"),
                      _fq("p05_energy").alias("p05_energy"),
                      _fq("avg_cos").alias("avg_cos"))


def _trunc_frac_sql(d: int) -> str:
    return (f"list_sum(list_transform(embedding[1:{d}], "
            f"x -> x::DOUBLE * x)) / tot_e")


ORACLE_TRUNCATION_AUDIT = f"""
WITH base AS (
  SELECT embedding,
         list_sum(list_transform(embedding, x -> x::DOUBLE * x))
             AS tot_e
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
f AS (
  SELECT {_trunc_frac_sql(8)} AS f8, {_trunc_frac_sql(16)} AS f16,
         {_trunc_frac_sql(32)} AS f32
  FROM base WHERE tot_e > 0),
a AS (
  SELECT count(*)::BIGINT AS n_vecs,
         avg(f8) AS a8, quantile_cont(f8, 0.05) AS p8,
         avg(sqrt(f8)) AS c8,
         avg(f16) AS a16, quantile_cont(f16, 0.05) AS p16,
         avg(sqrt(f16)) AS c16,
         avg(f32) AS a32, quantile_cont(f32, 0.05) AS p32,
         avg(sqrt(f32)) AS c32
  FROM f)
SELECT 8 AS dim_budget, n_vecs, floor((a8) * 1e{R} + 0.5) / 1e{R} AS avg_energy,
       floor((p8) * 1e{R} + 0.5) / 1e{R} AS p05_energy, floor((c8) * 1e{R} + 0.5) / 1e{R} AS avg_cos FROM a
UNION ALL
SELECT 16, n_vecs, floor((a16) * 1e{R} + 0.5) / 1e{R}, floor((p16) * 1e{R} + 0.5) / 1e{R}, floor((c16) * 1e{R} + 0.5) / 1e{R}
FROM a
UNION ALL
SELECT 32, n_vecs, floor((a32) * 1e{R} + 0.5) / 1e{R}, floor((p32) * 1e{R} + 0.5) / 1e{R}, floor((c32) * 1e{R} + 0.5) / 1e{R}
FROM a
"""


def q_anisotropy_embeddings(spark, sf_dir):
    """Anisotropy gate: exact mean pairwise cosine via the
    ‖Σ unit-vectors‖² − n identity — normalization, per-dimension sums
    and the fold replay exactly in SQL. No pairs materialize on either
    engine."""
    from flink_ml__spark.functions.similarity import AnisotropyAuditor

    emb = load_table(spark, "embeddings", sf_dir)
    out = AnisotropyAuditor().setInputCol("embedding").evaluate(emb)
    return out.select("n_vecs", "dim",
                      _fq("mean_pair_cosine")
                      .alias("mean_pair_cosine"),
                      _fq("centroid_norm")
                      .alias("centroid_norm"))


ORACLE_ANISOTROPY = f"""
WITH base AS (
  SELECT embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x))) AS nrm
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
ok AS (SELECT * FROM base WHERE nrm > 0),
unit AS (
  SELECT unnest(embedding) / nrm AS u,
         generate_subscripts(embedding, 1) AS pos
  FROM ok),
per_dim AS (SELECT pos, sum(u) AS s FROM unit GROUP BY 1),
sums AS (SELECT count(*)::BIGINT AS dim, sum(s * s) AS ss
         FROM per_dim),
n AS (SELECT count(*)::BIGINT AS n_vecs FROM ok)
SELECT n_vecs, dim,
       floor((CASE WHEN n_vecs > 1
                  THEN (ss - n_vecs) / (n_vecs * (n_vecs - 1.0)) END) * 1e{R} + 0.5) / 1e{R} AS mean_pair_cosine,
       floor((sqrt(ss) / n_vecs) * 1e{R} + 0.5) / 1e{R} AS centroid_norm
FROM n CROSS JOIN sums
"""


def q_kn_bigram_documents(spark, sf_dir):
    """Kneser-Ney bigram LM gate (D=0.75, same vocab/bigram cuts as
    the Jelinek-Mercer gate): continuation/backoff counts derive from
    the kept bigram table, and every per-position probability replays
    exactly in SQL."""
    from flink_ml__spark.functions.curation import KneserNeyBigramLM

    docs = load_table(spark, "documents", sf_dir)
    model = (KneserNeyBigramLM().setMaxVocab(4096).setMaxBigrams(8192)
             .setDiscount(0.75).fit(docs))
    out = model.transform(docs)
    return out.select("doc_id",
                      _fq("mean_logprob").alias("mean_logprob"),
                      _fq("bigram_frac").alias("bigram_frac"))


ORACLE_KN_BIGRAM = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
ex AS (SELECT unnest(toks) AS token FROM toks),
uni AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1
        ORDER BY cnt DESC, token ASC LIMIT 4096),
bex AS (SELECT toks[i] AS w1, toks[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
big AS (SELECT w1, w2, count(*) AS cnt FROM bex GROUP BY 1, 2
        ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 8192),
pre AS (SELECT w2, count(*)::DOUBLE AS c FROM big GROUP BY 1),
post AS (SELECT w1, count(*)::DOUBLE AS c FROM big GROUP BY 1),
nbb AS (SELECT count(*)::DOUBLE AS nb FROM big),
pos AS (SELECT doc_id, toks[i] AS w,
               CASE WHEN i > 1 THEN toks[i-1] END AS prev, i
        FROM toks, unnest(generate_series(1, len(toks))) AS u(i)),
sc AS (SELECT p.doc_id,
         CASE WHEN p.i = 1
              THEN ln(coalesce(pr2.c, 1) / nbb.nb)
              WHEN u1.cnt IS NOT NULL AND po.c IS NOT NULL
              THEN ln(greatest(coalesce(b.cnt, 0) - 0.75, 0)
                          / u1.cnt
                      + 0.75 * po.c / u1.cnt
                        * (coalesce(pr2.c, 1) / nbb.nb))
              ELSE ln(coalesce(pr2.c, 1) / nbb.nb)
         END AS lp,
         CASE WHEN p.i > 1 THEN (b.cnt IS NOT NULL)::INT END AS hit
       FROM pos p
       LEFT JOIN uni u1 ON p.prev = u1.token
       LEFT JOIN post po ON p.prev = po.w1
       LEFT JOIN pre pr2 ON p.w = pr2.w2
       LEFT JOIN big b ON p.prev = b.w1 AND p.w = b.w2
       CROSS JOIN nbb),
agg AS (SELECT doc_id, avg(lp) AS mlp, avg(hit) AS bf
        FROM sc GROUP BY 1)
SELECT d.doc_id, floor((agg.mlp) * 1e{R} + 0.5) / 1e{R} AS mean_logprob,
       floor((agg.bf) * 1e{R} + 0.5) / 1e{R} AS bigram_frac
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def q_conversion_lag_events(spark, sf_dir):
    """View→purchase conversion-lag gate (1 h horizon): per-anchor
    next-target lookup is ONE per-key following-frame window (no
    join), the rollup exact percentiles — all replayed in SQL with the
    same (time, type) tie order."""
    from flink_ml__spark.functions.sessions import ConversionLagAnalyzer

    ev = load_table(spark, "events", sf_dir)
    out = (ConversionLagAnalyzer().setPattern("view", "purchase")
           .setHorizonSec(3600).evaluate(ev))
    return out.select("n_anchors", "n_converted",
                      _fq("conversion_rate")
                      .alias("conversion_rate"),
                      _fq("p50_lag").alias("p50_lag"),
                      _fq("p90_lag").alias("p90_lag"))


ORACLE_CONVERSION_LAG = f"""
WITH base AS (
  SELECT user_id AS k, epoch_us(ts) AS us, event_type AS ty
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN ('view', 'purchase')),
w AS (
  SELECT *, min(CASE WHEN ty = 'purchase' THEN us END)
              OVER (PARTITION BY k ORDER BY us, ty
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
            AS nb
  FROM base),
anchors AS (
  SELECT (nb - us) / 1e6 AS lag,
         coalesce((nb - us) / 1e6 <= 3600.0, false) AS conv
  FROM w WHERE ty = 'view')
SELECT count(*)::BIGINT AS n_anchors,
       sum(conv::INT)::BIGINT AS n_converted,
       floor((avg(conv::INT)) * 1e{R} + 0.5) / 1e{R} AS conversion_rate,
       floor((quantile_cont(CASE WHEN conv THEN lag END, 0.5)) * 1e{R} + 0.5) / 1e{R}
           AS p50_lag,
       floor((quantile_cont(CASE WHEN conv THEN lag END, 0.9)) * 1e{R} + 0.5) / 1e{R}
           AS p90_lag
FROM anchors
"""


def q_merge_stats_orders(spark, sf_dir):
    """MERGE/upsert audit gate: a deterministic synthetic update batch
    against orders (price bumps on key%5=0, identical rows on %5=1,
    deletes on %11=3, inserts at key+1e8 on %13=0) — the full-outer
    join classification replays exactly in SQL."""
    from flink_ml__spark.functions.linkage import UpsertMerger

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    touched = orders.filter((k % 11 == 3) | (k % 5 < 2))
    upd = touched.select(
        "o_orderkey",
        F.when(k % 5 == 0, F.concat(F.col("o_orderstatus"), F.lit("*")))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(k % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        (k % 11 == 3).alias("del"))
    ins = orders.filter(k % 13 == 0).select(
        (k + 100000000).alias("o_orderkey"),
        F.lit("X").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"), F.lit(False).alias("del"))
    updates = upd.unionAll(ins)
    out = (UpsertMerger().setKeyCols("o_orderkey").setDeleteCol("del")
           .merge_stats(orders, updates))
    return out


ORACLE_MERGE_STATS = """
WITH tgt AS (SELECT o_orderkey AS k, o_orderstatus AS s,
                    o_totalprice AS p FROM orders),
upd AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus || '*'
              ELSE o_orderstatus END AS s,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS p,
         o_orderkey % 11 = 3 AS del
  FROM orders WHERE o_orderkey % 11 = 3 OR o_orderkey % 5 < 2
  UNION ALL
  SELECT o_orderkey + 100000000, 'X', 1.0, false
  FROM orders WHERE o_orderkey % 13 = 0),
j AS (
  SELECT tgt.k AS tk, upd.k AS uk,
         tgt.s IS NOT DISTINCT FROM upd.s
           AND tgt.p IS NOT DISTINCT FROM upd.p AS same,
         coalesce(upd.del, false) AS del
  FROM tgt FULL OUTER JOIN upd ON tgt.k = upd.k)
SELECT sum((tk IS NOT NULL)::INT)::BIGINT AS n_target,
       sum((uk IS NOT NULL)::INT)::BIGINT AS n_updates,
       sum((tk IS NULL AND uk IS NOT NULL AND NOT del)::INT)::BIGINT
           AS n_inserted,
       sum((tk IS NOT NULL AND uk IS NOT NULL AND NOT del
            AND NOT same)::INT)::BIGINT AS n_updated,
       sum((tk IS NOT NULL AND uk IS NOT NULL AND NOT del
            AND same)::INT)::BIGINT AS n_unchanged_matched,
       sum((tk IS NOT NULL AND uk IS NOT NULL AND del)::INT)::BIGINT
           AS n_deleted,
       sum((tk IS NOT NULL AND uk IS NULL)::INT)::BIGINT AS n_carried,
       sum((NOT (tk IS NOT NULL AND uk IS NOT NULL AND del)
            AND (tk IS NOT NULL
                 OR (uk IS NOT NULL AND NOT del)))::INT)::BIGINT
           AS n_result
FROM j
"""


def q_fk_check_orders(spark, sf_dir):
    """Referential-integrity gate: the two real FKs
    (orders→customer, lineitem→orders) plus a planted shifted-key FK
    whose orphans the oracle reproduces — distinct-key anti-join
    audit, one row per FK."""
    from flink_ml__spark.functions.linkage import (
        ReferentialIntegrityChecker,
    )

    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    shifted = orders.select(
        (F.col("o_custkey") + 1000000).alias("o_custkey"))
    out = ReferentialIntegrityChecker().check({
        "orders.custkey": (orders, "o_custkey",
                           customer, "c_custkey"),
        "lineitem.orderkey": (lineitem, "l_orderkey",
                              orders, "o_orderkey"),
        "orders.custkey_shifted": (shifted, "o_custkey",
                                   customer, "c_custkey"),
    })
    return out.select("fk", "n_rows", "n_null", "n_orphans",
                      _fq("orphan_rate").alias("orphan_rate"))


ORACLE_FK_CHECK = f"""
WITH one AS (
  SELECT 'orders.custkey' AS fk,
         count(o_custkey)::BIGINT AS n_rows,
         sum((o_custkey IS NULL)::INT)::BIGINT AS n_null,
         sum((o_custkey IS NOT NULL AND o_custkey NOT IN
              (SELECT c_custkey FROM customer
               WHERE c_custkey IS NOT NULL))::INT)::BIGINT AS n_orphans
  FROM orders),
two AS (
  SELECT 'lineitem.orderkey', count(l_orderkey)::BIGINT,
         sum((l_orderkey IS NULL)::INT)::BIGINT,
         sum((l_orderkey IS NOT NULL AND l_orderkey NOT IN
              (SELECT o_orderkey FROM orders
               WHERE o_orderkey IS NOT NULL))::INT)::BIGINT
  FROM lineitem),
three AS (
  SELECT 'orders.custkey_shifted',
         count(o_custkey + 1000000)::BIGINT,
         sum((o_custkey + 1000000 IS NULL)::INT)::BIGINT,
         sum((o_custkey + 1000000 IS NOT NULL
              AND o_custkey + 1000000 NOT IN
              (SELECT c_custkey FROM customer
               WHERE c_custkey IS NOT NULL))::INT)::BIGINT
  FROM orders),
u AS (SELECT * FROM one UNION ALL SELECT * FROM two
      UNION ALL SELECT * FROM three)
SELECT fk, n_rows, n_null, n_orphans,
       floor((CASE WHEN n_rows > 0
                  THEN n_orphans / n_rows::DOUBLE END) * 1e{R} + 0.5) / 1e{R}
           AS orphan_rate
FROM u
"""


def q_rouge_documents(spark, sf_dir):
    """ROUGE-1/2 gate over deterministic adjacent-id pairs (every
    43rd document vs its successor): clipped n-gram matches, totals
    and P/R/F1 replay exactly in SQL."""
    from flink_ml__spark.functions.text import NgramOverlapScorer

    docs = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id").isNotNull())
    ids = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (docs.filter(F.col("doc_id") % 43 == 0)
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b"))
             .join(ids, "id_b"))
    out = (NgramOverlapScorer().setNgramOrders(1, 2)
           .score_pairs(pairs, docs))
    return out.select("id_a", "id_b", "n", "match_n", "total_a",
                      "total_b",
                      _fq("precision").alias("precision"),
                      _fq("recall").alias("recall"),
                      _fq("f1").alias("f1"))


ORACLE_ROUGE = f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents
              WHERE doc_id IS NOT NULL),
pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
          FROM documents a JOIN documents b
               ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 43 = 0 AND a.doc_id IS NOT NULL),
g1 AS (SELECT doc_id, 1 AS n, unnest(toks) AS g FROM toks),
g2 AS (SELECT doc_id, 2 AS n, toks[i] || ' ' || toks[i+1] AS g
       FROM toks, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
grams AS (SELECT doc_id, n, g, count(*) AS c
          FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
          GROUP BY 1, 2, 3),
totals AS (SELECT doc_id, n, sum(c) AS tot FROM grams GROUP BY 1, 2),
inter AS (SELECT p.ida, p.idb, ga.n, sum(least(ga.c, gb.c)) AS m
          FROM pairs p
          JOIN grams ga ON ga.doc_id = p.ida
          JOIN grams gb ON gb.doc_id = p.idb AND gb.n = ga.n
                        AND gb.g = ga.g
          GROUP BY 1, 2, 3),
ft AS (SELECT p.ida, p.idb, o.n,
              coalesce(m, 0)::BIGINT AS match_n,
              coalesce(ta.tot, 0)::BIGINT AS total_a,
              coalesce(tb.tot, 0)::BIGINT AS total_b
       FROM pairs p
       CROSS JOIN (VALUES (1), (2)) o(n)
       LEFT JOIN inter ON inter.ida = p.ida AND inter.idb = p.idb
                       AND inter.n = o.n
       LEFT JOIN totals ta ON ta.doc_id = p.ida AND ta.n = o.n
       LEFT JOIN totals tb ON tb.doc_id = p.idb AND tb.n = o.n),
sc AS (SELECT *,
              CASE WHEN total_a > 0
                   THEN match_n / total_a::DOUBLE END AS pr,
              CASE WHEN total_b > 0
                   THEN match_n / total_b::DOUBLE END AS rc
       FROM ft)
SELECT ida AS id_a, idb AS id_b, n, match_n, total_a, total_b,
       floor((pr) * 1e{R} + 0.5) / 1e{R} AS "precision", floor((rc) * 1e{R} + 0.5) / 1e{R} AS recall,
       floor((CASE WHEN pr IS NOT NULL AND rc IS NOT NULL THEN
                 CASE WHEN pr + rc > 0
                      THEN 2 * pr * rc / (pr + rc) ELSE 0.0 END
             END) * 1e{R} + 0.5) / 1e{R} AS f1
FROM sc
"""


def q_audio_silence_documents(spark, sf_dir):
    """Audio silence-detection gate (stub codec): 512-sample payloads,
    64-sample windows, RMS < 0.58 — the keystream decode, per-window
    RMS, run segmentation and lead-trim all replay exactly in SQL."""
    from flink_ml__spark.functions.multimodal import AudioSilenceDetector

    out = (AudioSilenceDetector().setDecoder("fake").setSampleCount(512)
           .setWindowSize(64).setThreshold(0.58)
           .transform(_payloads(spark, sf_dir)))
    return out.select("doc_id", "n_windows", "n_silent",
                      _fq("silence_frac").alias("silence_frac"),
                      "n_silent_runs", "lead_trim")


ORACLE_AUDIO_SILENCE = f"""
WITH {_fake_bytes_ctes(512)},
smp AS (SELECT doc_id, pos // 64 AS w, (b - 128.0) / 128.0 AS s
        FROM fp_byte),
win AS (SELECT doc_id, w, sqrt(avg(s * s)) < 0.58 AS silent
        FROM smp GROUP BY 1, 2),
lagd AS (SELECT doc_id, w, silent,
                coalesce(lag(silent) OVER (PARTITION BY doc_id
                                           ORDER BY w), false) AS prev
         FROM win),
agg AS (SELECT doc_id, count(*) AS nw, sum(silent::INT) AS ns,
               sum((silent AND NOT prev)::INT) AS runs,
               min(CASE WHEN NOT silent THEN w END) AS first_loud
        FROM lagd GROUP BY 1)
SELECT doc_id, nw::INT AS n_windows, ns::INT AS n_silent,
       floor((ns / nw::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS silence_frac,
       runs::INT AS n_silent_runs,
       coalesce(first_loud, nw)::INT AS lead_trim
FROM agg
"""


def q_qini_events(spark, sf_dir):
    """Uplift/Qini gate: score = pre-period mean value, outcome =
    post-period purchase, parity variants, 10 fitted score-decile
    buckets — edges (6 dp), bucket table, uplift and the cumulative
    Qini curve all replay exactly in SQL."""
    from flink_ml__spark.functions.evaluation import UpliftEvaluator

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    units = (ev.groupBy("user_id")
             .agg(F.avg(F.when(day < 19738,
                               F.col("value").cast("double")))
                  .alias("score"),
                  F.max(F.when((day >= 19738)
                               & (F.col("event_type") == "purchase"),
                               1).otherwise(0)).alias("outcome"))
             .filter(F.col("score").isNotNull())
             .select(F.when(F.col("user_id") % 2 == 0, "t")
                     .otherwise("c").alias("variant"),
                     "score", "outcome"))
    out = (UpliftEvaluator().setLabels("t", "c").setNumBins(10)
           .evaluate(units))
    return out.select("bucket_rank", "n_t", "n_c",
                      _fq("y_t").alias("y_t"),
                      _fq("y_c").alias("y_c"),
                      _fq("rate_t").alias("rate_t"),
                      _fq("rate_c").alias("rate_c"),
                      _fq("uplift").alias("uplift"),
                      _fq("qini_cum").alias("qini_cum"))


ORACLE_QINI = f"""
WITH units0 AS (
  SELECT user_id,
         avg(CASE WHEN epoch_us(ts) // {_DAY_US} < 19738
                  THEN value::DOUBLE END) AS score,
         max(CASE WHEN epoch_us(ts) // {_DAY_US} >= 19738
                       AND event_type = 'purchase'
                  THEN 1 ELSE 0 END)::DOUBLE AS outcome
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id),
units AS (
  SELECT user_id % 2 = 0 AS is_t, score, outcome
  FROM units0 WHERE score IS NOT NULL),
edges AS (
  SELECT list_transform(
             quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]),
             e -> floor((e) * 1e6 + 0.5) / 1e6) AS es
  FROM units),
bucketed AS (
  SELECT is_t, outcome,
         9 - len(list_filter(es, e -> score > e)) AS b
  FROM units CROSS JOIN edges),
per AS (
  SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS n_t,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END)::BIGINT AS n_c,
         sum(CASE WHEN is_t THEN outcome ELSE 0 END) AS y_t,
         sum(CASE WHEN is_t THEN 0 ELSE outcome END) AS y_c
  FROM bucketed GROUP BY 1),
cum AS (
  SELECT *, row_number() OVER (ORDER BY b) AS bucket_rank,
         sum(n_t) OVER (ORDER BY b) AS cnt,
         sum(n_c) OVER (ORDER BY b) AS cnc,
         sum(y_t) OVER (ORDER BY b) AS cyt,
         sum(y_c) OVER (ORDER BY b) AS cyc
  FROM per)
SELECT bucket_rank, n_t, n_c, floor((y_t) * 1e{R} + 0.5) / 1e{R} AS y_t,
       floor((y_c) * 1e{R} + 0.5) / 1e{R} AS y_c,
       floor((CASE WHEN n_t > 0 THEN y_t / n_t END) * 1e{R} + 0.5) / 1e{R} AS rate_t,
       floor((CASE WHEN n_c > 0 THEN y_c / n_c END) * 1e{R} + 0.5) / 1e{R} AS rate_c,
       floor((CASE WHEN n_t > 0 AND n_c > 0
                  THEN y_t / n_t - y_c / n_c END) * 1e{R} + 0.5) / 1e{R} AS uplift,
       floor((CASE WHEN cnc > 0
                  THEN cyt - cyc * cnt / cnc::DOUBLE END) * 1e{R} + 0.5) / 1e{R}
           AS qini_cum
FROM cum
"""


def q_ratio_metric_events(spark, sf_dir):
    """Delta-method ratio-metric gate: per-user purchase-value /
    event-count ratio between the parity variants — the conditional
    moments, both delta-method variances, z and the verdict replay
    exactly in SQL."""
    from flink_ml__spark.functions.stats import RatioMetricAnalyzer

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    units = (ev.groupBy("user_id")
             .agg(F.sum(F.when(F.col("event_type") == "purchase",
                               F.col("value").cast("double"))
                        .otherwise(0.0)).alias("num"),
                  F.count(F.lit(1)).cast("double").alias("den"))
             .select(F.when(F.col("user_id") % 2 == 0, "t")
                     .otherwise("c").alias("variant"), "num", "den"))
    out = (RatioMetricAnalyzer().setVariants("t", "c")
           .evaluate(units))
    return out.select("n_a", "n_b",
                      _fq("ratio_a").alias("ratio_a"),
                      _fq("ratio_b").alias("ratio_b"),
                      _fq("diff").alias("diff"),
                      _fq("se").alias("se"),
                      _fq("z_stat").alias("z_stat"),
                      "significant")


ORACLE_RATIO_METRIC = f"""
WITH units AS (
  SELECT user_id % 2 = 0 AS is_t,
         sum(CASE WHEN event_type = 'purchase'
                  THEN value::DOUBLE ELSE 0 END) AS x,
         count(*)::DOUBLE AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id),
m AS (
  SELECT sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN is_t THEN x ELSE 0 END) AS sxa,
         sum(CASE WHEN is_t THEN y ELSE 0 END) AS sya,
         sum(CASE WHEN is_t THEN x * x ELSE 0 END) AS sxxa,
         sum(CASE WHEN is_t THEN y * y ELSE 0 END) AS syya,
         sum(CASE WHEN is_t THEN x * y ELSE 0 END) AS sxya,
         sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END)::BIGINT AS nb,
         sum(CASE WHEN NOT is_t THEN x ELSE 0 END) AS sxb,
         sum(CASE WHEN NOT is_t THEN y ELSE 0 END) AS syb,
         sum(CASE WHEN NOT is_t THEN x * x ELSE 0 END) AS sxxb,
         sum(CASE WHEN NOT is_t THEN y * y ELSE 0 END) AS syyb,
         sum(CASE WHEN NOT is_t THEN x * y ELSE 0 END) AS sxyb
  FROM units),
d AS (
  SELECT na, nb,
         CASE WHEN sya <> 0 THEN sxa / sya END AS ra,
         CASE WHEN syb <> 0 THEN sxb / syb END AS rb,
         CASE WHEN na > 1 AND sya / na <> 0 THEN
           ((sxxa - na * (sxa/na) * (sxa/na)) / (na - 1)
            - 2 * (sxa/sya) * ((sxya - na * (sxa/na) * (sya/na))
                               / (na - 1))
            + (sxa/sya) * (sxa/sya)
              * ((syya - na * (sya/na) * (sya/na)) / (na - 1)))
           / (na * (sya/na) * (sya/na)) END AS va,
         CASE WHEN nb > 1 AND syb / nb <> 0 THEN
           ((sxxb - nb * (sxb/nb) * (sxb/nb)) / (nb - 1)
            - 2 * (sxb/syb) * ((sxyb - nb * (sxb/nb) * (syb/nb))
                               / (nb - 1))
            + (sxb/syb) * (sxb/syb)
              * ((syyb - nb * (syb/nb) * (syb/nb)) / (nb - 1)))
           / (nb * (syb/nb) * (syb/nb)) END AS vb
  FROM m),
s AS (SELECT *, sqrt(va + vb) AS se FROM d)
SELECT na AS n_a, nb AS n_b, floor((ra) * 1e{R} + 0.5) / 1e{R} AS ratio_a,
       floor((rb) * 1e{R} + 0.5) / 1e{R} AS ratio_b, floor((ra - rb) * 1e{R} + 0.5) / 1e{R} AS diff,
       floor((se) * 1e{R} + 0.5) / 1e{R} AS se,
       floor((CASE WHEN se > 0 THEN (ra - rb) / se END) * 1e{R} + 0.5) / 1e{R} AS z_stat,
       coalesce(abs((ra - rb) / se) > 1.96, false) AS significant
FROM s
"""


def q_ratio_window_events(spark, sf_dir):
    """Per-day windowed delta-method ratio guardrail (parity
    variants; num = purchase value ×1.5-planted on every 7th day for
    the treated side, den = 1 + user_id%3) — every window's six
    moments per side, both delta-method variances and z replay
    exactly in SQL. SAME code path runs on an unbounded stream
    (`streaming.stream_ratio_monitor`, parity-tested)."""
    from flink_ml__spark.streaming.online import stream_ratio_monitor

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
        & F.col("user_id").isNotNull())
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    is_a = F.col("user_id") % 2 == 0
    base_num = F.when(F.col("event_type") == "purchase",
                      F.col("value").cast("double")).otherwise(0.0)
    cur = (ev.withColumn("variant",
                         F.when(is_a, "even").otherwise("odd"))
           .withColumn("num", F.when((day % 7 == 3) & is_a,
                                     base_num * 1.5)
                       .otherwise(base_num))
           .withColumn("den",
                       (1 + F.col("user_id") % 3).cast("double")))
    out = stream_ratio_monitor(cur, "ts", "num", "den", "variant",
                               "even", "odd", window="1 day")
    return out.select(F.unix_micros("window_start").alias("win_us"),
                      "n_a", "n_b",
                      _fq("ratio_a").alias("ratio_a"),
                      _fq("ratio_b").alias("ratio_b"),
                      _fq("diff").alias("diff"),
                      _fq("se").alias("se"),
                      _fq("z_stat").alias("z_stat"),
                      "significant")


ORACLE_RATIO_WINDOW = f"""
WITH base AS (
  SELECT (epoch_us(ts) // {_DAY_US}) * {_DAY_US} AS win_us,
         user_id % 2 = 0 AS is_a,
         CASE WHEN (epoch_us(ts) // {_DAY_US}) % 7 = 3
                   AND user_id % 2 = 0
              THEN (CASE WHEN event_type = 'purchase'
                         THEN value::DOUBLE ELSE 0 END) * 1.5
              ELSE CASE WHEN event_type = 'purchase'
                        THEN value::DOUBLE ELSE 0 END
         END AS x,
         (1 + user_id % 3)::DOUBLE AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
m AS (
  SELECT win_us,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN is_a THEN x ELSE 0 END) AS sxa,
         sum(CASE WHEN is_a THEN y ELSE 0 END) AS sya,
         sum(CASE WHEN is_a THEN x * x ELSE 0 END) AS sxxa,
         sum(CASE WHEN is_a THEN y * y ELSE 0 END) AS syya,
         sum(CASE WHEN is_a THEN x * y ELSE 0 END) AS sxya,
         sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS nb,
         sum(CASE WHEN NOT is_a THEN x ELSE 0 END) AS sxb,
         sum(CASE WHEN NOT is_a THEN y ELSE 0 END) AS syb,
         sum(CASE WHEN NOT is_a THEN x * x ELSE 0 END) AS sxxb,
         sum(CASE WHEN NOT is_a THEN y * y ELSE 0 END) AS syyb,
         sum(CASE WHEN NOT is_a THEN x * y ELSE 0 END) AS sxyb
  FROM base GROUP BY 1),
d AS (
  SELECT win_us, na, nb,
         CASE WHEN sya <> 0 THEN sxa / sya END AS ra,
         CASE WHEN syb <> 0 THEN sxb / syb END AS rb,
         CASE WHEN na > 1 AND sya / na <> 0 THEN
           ((sxxa - na * (sxa/na) * (sxa/na)) / (na - 1)
            - 2 * (sxa/sya) * ((sxya - na * (sxa/na) * (sya/na))
                               / (na - 1))
            + (sxa/sya) * (sxa/sya)
              * ((syya - na * (sya/na) * (sya/na)) / (na - 1)))
           / (na * (sya/na) * (sya/na)) END AS va,
         CASE WHEN nb > 1 AND syb / nb <> 0 THEN
           ((sxxb - nb * (sxb/nb) * (sxb/nb)) / (nb - 1)
            - 2 * (sxb/syb) * ((sxyb - nb * (sxb/nb) * (syb/nb))
                               / (nb - 1))
            + (sxb/syb) * (sxb/syb)
              * ((syyb - nb * (syb/nb) * (syb/nb)) / (nb - 1)))
           / (nb * (syb/nb) * (syb/nb)) END AS vb
  FROM m),
s AS (SELECT *, sqrt(va + vb) AS se FROM d)
SELECT win_us, na AS n_a, nb AS n_b, floor((ra) * 1e{R} + 0.5) / 1e{R} AS ratio_a,
       floor((rb) * 1e{R} + 0.5) / 1e{R} AS ratio_b, floor((ra - rb) * 1e{R} + 0.5) / 1e{R} AS diff,
       floor((se) * 1e{R} + 0.5) / 1e{R} AS se,
       floor((CASE WHEN se > 0 THEN (ra - rb) / se END) * 1e{R} + 0.5) / 1e{R} AS z_stat,
       coalesce(abs((ra - rb) / se) > 1.96, false) AS significant
FROM s
"""


def _rank_gauss_z(k: int) -> str:
    from flink_ml__spark.functions.stats import _norm_ppf

    return ", ".join(repr(_norm_ppf((i + 0.5) / k)) for i in range(k))


def q_rank_gauss_lineitem(spark, sf_dir):
    """Rank-Gauss gate: l_extendedprice through the fitted 32-bucket
    quantile→normal map — edges (6 dp) and the Acklam z table fold as
    literals on BOTH engines, apply is a pure projection."""
    from flink_ml__spark.functions.feature_gen import RankGaussTransformer

    li = load_table(spark, "lineitem", sf_dir)
    m = (RankGaussTransformer().setInputCol("l_extendedprice")
         .setOutputCol("price_gauss").setNumBuckets(32).fit(li))
    out = m.transform(li)
    return out.select("l_orderkey", "l_linenumber",
                      _fq("price_gauss").alias("price_gauss"))


ORACLE_RANK_GAUSS = f"""
WITH edges AS (
  SELECT list_transform(
             quantile_cont(l_extendedprice::DOUBLE,
                 [{', '.join(repr(i / 32) for i in range(1, 32))}]),
             e -> floor((e) * 1e6 + 0.5) / 1e6) AS es
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
zt AS (SELECT [{_rank_gauss_z(32)}]::DOUBLE[] AS zl)
SELECT l_orderkey, l_linenumber,
       floor((CASE WHEN l_extendedprice IS NOT NULL THEN
           zl[len(list_filter(es, e -> l_extendedprice::DOUBLE > e))
              + 1] END) * 1e{R} + 0.5) / 1e{R} AS price_gauss
FROM lineitem CROSS JOIN edges CROSS JOIN zt
"""


def q_k_anonymity_events(spark, sf_dir):
    """k-anonymity audit gate (k=5) over the (event_type, user-bucket)
    quasi-identifier pair — equivalence classes, violations and the
    risk summary replay exactly in SQL (NULLs group as values)."""
    from flink_ml__spark.functions.linkage import KAnonymityAuditor

    ev = load_table(spark, "events", sf_dir)
    quasi = ev.select("event_type",
                      (F.col("user_id") % 97).alias("user_bucket"))
    out = (KAnonymityAuditor().setQuasiCols("event_type", "user_bucket")
           .setK(5).evaluate(quasi))
    return out.select("n_rows", "n_combos", "n_violating",
                      "rows_at_risk",
                      _fq("risk_share").alias("risk_share"),
                      "min_class", "k")


ORACLE_K_ANONYMITY = f"""
WITH cls AS (
  SELECT event_type, user_id % 97 AS ub,
         count(*)::BIGINT AS class_size
  FROM events GROUP BY 1, 2)
SELECT sum(class_size)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_combos,
       sum((class_size < 5)::INT)::BIGINT AS n_violating,
       sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::BIGINT
           AS rows_at_risk,
       floor((sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
             / sum(class_size)::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS risk_share,
       min(class_size) AS min_class, 5 AS k
FROM cls
"""


def q_lorenz_events(spark, sf_dir):
    """Lorenz-curve gate: per-user total value through 10 fitted
    weight-decile buckets — edges, bucket table and both cumulative
    shares replay exactly in SQL."""
    from flink_ml__spark.functions.stats import LorenzCurveAnalyzer

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull())
    units = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("double")).alias("w"))
    out = (LorenzCurveAnalyzer().setWeightCol("w").setNumBins(10)
           .evaluate(units))
    return out.select("bucket", "n_units",
                      _fq("bucket_weight").alias("bucket_weight"),
                      _fq("cum_pop_share").alias("cum_pop_share"),
                      _fq("cum_weight_share")
                      .alias("cum_weight_share"))


ORACLE_LORENZ = f"""
WITH units AS (
  SELECT sum(value::DOUBLE) AS w FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id),
u AS (SELECT w FROM units WHERE w >= 0),
edges AS (
  SELECT list_transform(
             quantile_cont(w, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]),
             e -> floor((e) * 1e6 + 0.5) / 1e6) AS es
  FROM u),
per AS (
  SELECT len(list_filter(es, e -> w > e)) AS b,
         count(*)::BIGINT AS n_units, sum(w) AS bw
  FROM u CROSS JOIN edges GROUP BY 1),
cum AS (
  SELECT *, sum(n_units) OVER (ORDER BY b) AS cn,
         sum(bw) OVER (ORDER BY b) AS cw,
         sum(n_units) OVER () AS tn, sum(bw) OVER () AS tw
  FROM per)
SELECT b AS bucket, n_units, floor((bw) * 1e{R} + 0.5) / 1e{R} AS bucket_weight,
       floor((cn / tn::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS cum_pop_share,
       floor((cw / tw) * 1e{R} + 0.5) / 1e{R} AS cum_weight_share
FROM cum
"""


def q_qq_events(spark, sf_dir):
    """QQ-table gate: purchase vs click values at 19 vigintiles —
    both conditional quantile grids come from ONE aggregation and
    replay exactly in SQL."""
    from flink_ml__spark.functions.stats import QuantileComparison

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull())
    out = (QuantileComparison().setValueCol("value")
           .setGroupCol("event_type").setGroups("purchase", "click")
           .evaluate(ev))
    return out.select(_fq("p").alias("p"),
                      _fq("q_a").alias("q_a"),
                      _fq("q_b").alias("q_b"),
                      _fq("diff").alias("diff"),
                      _fq("ratio").alias("ratio"))


_QQ_PROBS = ", ".join(repr(i / 20) for i in range(1, 20))

ORACLE_QQ = f"""
WITH g AS (
  SELECT quantile_cont(CASE WHEN event_type = 'purchase'
                            THEN value::DOUBLE END,
                       [{_QQ_PROBS}]) AS qa,
         quantile_cont(CASE WHEN event_type = 'click'
                            THEN value::DOUBLE END,
                       [{_QQ_PROBS}]) AS qb
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
rows_t AS (
  SELECT unnest([{_QQ_PROBS}]::DOUBLE[]) AS p, unnest(qa) AS q_a,
         unnest(qb) AS q_b
  FROM g)
SELECT floor((p) * 1e{R} + 0.5) / 1e{R} AS p, floor((q_a) * 1e{R} + 0.5) / 1e{R} AS q_a,
       floor((q_b) * 1e{R} + 0.5) / 1e{R} AS q_b, floor((q_a - q_b) * 1e{R} + 0.5) / 1e{R} AS diff,
       floor((CASE WHEN q_b <> 0 THEN q_a / q_b END) * 1e{R} + 0.5) / 1e{R} AS ratio
FROM rows_t
"""


def q_eb_rates_events(spark, sf_dir):
    """Empirical-Bayes rate-shrinkage gate: per (event_type,
    user-bucket) group, the rate of high-value events (> 50) shrunk
    toward the moment-matched beta prior — the prior fit and every
    posterior rate replay exactly in SQL."""
    from flink_ml__spark.functions.stats import EmpiricalBayesRateShrinker

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull())
    groups = (ev.groupBy("event_type",
                         (F.col("user_id") % 25).alias("ub"))
              .agg(F.count(F.lit(1)).alias("trials"),
                   F.sum(F.when(F.col("value") > 50, 1).otherwise(0))
                   .alias("successes")))
    out = (EmpiricalBayesRateShrinker().setTrialsCol("trials")
           .setSuccessCol("successes").transform(groups))
    return out.select("event_type", "ub", "trials", "successes",
                      _fq("raw_rate").alias("raw_rate"),
                      _fq("shrunk_rate").alias("shrunk_rate"))


ORACLE_EB_RATES = f"""
WITH groups AS (
  SELECT event_type, user_id % 25 AS ub, count(*)::BIGINT AS trials,
         sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT
             AS successes
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
  GROUP BY 1, 2),
prior AS (
  SELECT avg(successes / trials::DOUBLE) AS m,
         var_samp(successes / trials::DOUBLE) AS v
  FROM groups WHERE trials > 0),
ab AS (
  SELECT m, v,
         m * (m * (1 - m) / v - 1) AS alpha,
         (1 - m) * (m * (1 - m) / v - 1) AS beta
  FROM prior)
SELECT event_type, ub, trials, successes,
       floor((successes / trials::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS raw_rate,
       floor(((successes + alpha) / (trials + alpha + beta)) * 1e{R} + 0.5) / 1e{R}
           AS shrunk_rate
FROM groups CROSS JOIN ab
"""


def q_ltv_events(spark, sf_dir):
    """Cohort-LTV gate (7-day buckets): user/bucket value rollup,
    first-bucket cohorting, densified ages and the cumulative
    per-member curve all replay exactly in SQL."""
    from flink_ml__spark.functions.timeseries import CohortValueCurve

    ev = load_table(spark, "events", sf_dir)
    out = (CohortValueCurve().setBucketWidthSec(7 * 86400.0)
           .transform(ev))
    return out.select(F.unix_micros("cohort_start").alias("cohort_us"),
                      "age",
                      _fq("bucket_value").alias("bucket_value"),
                      _fq("cum_value").alias("cum_value"),
                      "cohort_size", _fq("ltv").alias("ltv"))


_WK_US = 7 * 86_400_000_000

ORACLE_LTV = f"""
WITH per_ub AS (
  SELECT user_id AS u, epoch_us(ts) // {_WK_US} AS bk,
         sum(value::DOUBLE) AS v
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
cohorts AS (SELECT u, min(bk) AS c FROM per_ub GROUP BY 1),
sizes AS (SELECT c, count(*)::BIGINT AS cohort_size
          FROM cohorts GROUP BY 1),
cells AS (
  SELECT cohorts.c, per_ub.bk - cohorts.c AS age, sum(v) AS bv
  FROM per_ub JOIN cohorts ON per_ub.u = cohorts.u
  GROUP BY 1, 2),
span AS (SELECT c, max(age) AS mx FROM cells GROUP BY 1),
dense AS (SELECT c, unnest(generate_series(0, mx)) AS age FROM span),
filled AS (
  SELECT dense.c, dense.age, coalesce(cells.bv, 0.0) AS bv
  FROM dense LEFT JOIN cells ON dense.c = cells.c
                             AND dense.age = cells.age),
cum AS (
  SELECT *, sum(bv) OVER (PARTITION BY c ORDER BY age) AS cv
  FROM filled)
SELECT (cum.c * {_WK_US})::BIGINT AS cohort_us, age,
       floor((bv) * 1e{R} + 0.5) / 1e{R} AS bucket_value, floor((cv) * 1e{R} + 0.5) / 1e{R} AS cum_value,
       cohort_size, floor((cv / cohort_size) * 1e{R} + 0.5) / 1e{R} AS ltv
FROM cum JOIN sizes ON cum.c = sizes.c
"""


def q_holm_events(spark, sf_dir):
    """Holm step-down FWER gate over the same windowed-KS battery as
    the BH gate — the prefix-max adjusted p-values and discoveries
    replay exactly in SQL."""
    from flink_ml__spark.functions.stats import FdrController

    base = q_ks_window_events(spark, sf_dir)
    out = (FdrController().setPCol("p_value").setAlpha(0.05)
           .setMethod("holm").setTieCols("win_us").transform(base))
    return out.select("win_us", "p_value", "p_rank",
                      _fq("q_value").alias("q_value"),
                      "discovery")


ORACLE_HOLM = f"""
WITH ks AS ({ORACLE_KS_WINDOW}),
t AS (SELECT win_us, p_value FROM ks
      WHERE p_value IS NOT NULL AND p_value BETWEEN 0 AND 1),
r AS (SELECT *, row_number() OVER (ORDER BY p_value, win_us) AS p_rank,
             count(*) OVER () AS n
      FROM t),
q AS (SELECT *, max(least(1.0, p_value * (n - p_rank + 1)))
                OVER (ORDER BY p_rank ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS q_value
      FROM r)
SELECT win_us, p_value, p_rank, floor((q_value) * 1e{R} + 0.5) / 1e{R} AS q_value,
       q_value <= 0.05 AS discovery
FROM q
"""


def q_ess_documents(spark, sf_dir):
    """Kish effective-sample-size gate over the n_chars weighting —
    one two-accumulator aggregation, replayed exactly in SQL."""
    from flink_ml__spark.functions.curation import EffectiveSampleSize

    docs = load_table(spark, "documents", sf_dir)
    out = (EffectiveSampleSize().setWeightCol("n_chars")
           .evaluate(docs))
    return out.select("n", _fq("sum_w").alias("sum_w"),
                      _fq("ess").alias("ess"),
                      _fq("ess_ratio").alias("ess_ratio"))


ORACLE_ESS = f"""
WITH m AS (
  SELECT count(*)::BIGINT AS n, sum(n_chars::DOUBLE) AS sw,
         sum(n_chars::DOUBLE * n_chars) AS ww
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
SELECT n, floor((sw) * 1e{R} + 0.5) / 1e{R} AS sum_w,
       floor((CASE WHEN ww > 0 THEN sw * sw / ww END) * 1e{R} + 0.5) / 1e{R} AS ess,
       floor((CASE WHEN n > 0 AND ww > 0
                  THEN sw * sw / ww / n END) * 1e{R} + 0.5) / 1e{R} AS ess_ratio
FROM m
"""


def q_chao1_documents(spark, sf_dir):
    """Chao1 unseen-vocabulary gate: singleton/doubleton counts and
    the richness estimate replay exactly in SQL."""
    from flink_ml__spark.functions.curation import (
        Chao1VocabularyEstimator,
    )

    docs = load_table(spark, "documents", sf_dir)
    out = Chao1VocabularyEstimator().evaluate(docs)
    return out.select("n_tokens", "n_types", "f1", "f2",
                      _fq("chao1").alias("chao1"),
                      _fq("coverage").alias("coverage"))


ORACLE_CHAO1 = f"""
WITH toks AS (SELECT {_TOK_SQL} AS toks FROM documents
              WHERE text IS NOT NULL),
counts AS (SELECT unnest(toks) AS t FROM toks),
cc AS (SELECT t, count(*)::BIGINT AS c FROM counts GROUP BY 1),
m AS (
  SELECT sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         sum((c = 1)::INT)::BIGINT AS f1,
         sum((c = 2)::INT)::BIGINT AS f2
  FROM cc)
SELECT n_tokens, n_types, f1, f2,
       floor((CASE WHEN f2 > 0
                  THEN n_types + f1 * f1 / (2.0 * f2)
                  ELSE n_types + f1 * (f1 - 1) / 2.0 END) * 1e{R} + 0.5) / 1e{R}
           AS chao1,
       floor((CASE WHEN n_tokens > 0
                  THEN 1 - f1 / n_tokens::DOUBLE END) * 1e{R} + 0.5) / 1e{R} AS coverage
FROM m
"""


def q_source_diversity_documents(spark, sf_dir):
    """Mixture-diversity gate over the documents source blend —
    entropy, both Hill effective counts and the top share replay
    exactly in SQL."""
    from flink_ml__spark.functions.curation import (
        MixtureDiversityProfiler,
    )

    docs = load_table(spark, "documents", sf_dir)
    out = (MixtureDiversityProfiler().setGroupCol("source")
           .evaluate(docs))
    return out.select("n_rows", "n_groups",
                      _fq("entropy").alias("entropy"),
                      _fq("eff_shannon").alias("eff_shannon"),
                      _fq("eff_simpson").alias("eff_simpson"),
                      _fq("top_share").alias("top_share"))


ORACLE_SOURCE_DIVERSITY = f"""
WITH per AS (SELECT source, count(*)::BIGINT AS n FROM documents
             WHERE source IS NOT NULL GROUP BY 1),
tot AS (
  SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
         max(n) AS mx, sum(n * n) AS nn,
         sum(n * ln(n::DOUBLE)) AS nlogn
  FROM per)
SELECT n_rows, n_groups,
       floor((ln(n_rows::DOUBLE) - nlogn / n_rows) * 1e{R} + 0.5) / 1e{R} AS entropy,
       floor((exp(ln(n_rows::DOUBLE) - nlogn / n_rows)) * 1e{R} + 0.5) / 1e{R}
           AS eff_shannon,
       floor((n_rows::DOUBLE * n_rows / nn) * 1e{R} + 0.5) / 1e{R} AS eff_simpson,
       floor((mx / n_rows::DOUBLE) * 1e{R} + 0.5) / 1e{R} AS top_share
FROM tot
"""


_KCENTER_K = 8


def q_kcenter_coreset_embeddings(spark, sf_dir):
    """KCenterCoreset gate: greedy Gonzalez farthest-point selection of
    8 centers over the embeddings table. The smallest-id seed, the
    fixed-point int64 min-distance state and every per-step argmax
    (mind DESC, id ASC) replay exactly in the oracle's unrolled
    k-step CTE chain — the int64 state is what keeps the greedy
    trajectory from compounding float noise across iterations."""
    from flink_ml__spark.functions.similarity import KCenterCoreset

    emb = load_table(spark, "embeddings", sf_dir)
    return (KCenterCoreset().setNumCenters(_KCENTER_K)
            .select_centers(emb))


def _kcenter_oracle_sql(k: int) -> str:
    """Unrolled greedy k-center replay: s{t} picks the argmax of the
    int64 fixed-point min-distance state, d{t} folds the new center
    into the state with least() — same integer state as the Spark
    operator, so the trajectories are bit-identical."""
    def d2(a, b):
        return (f"floor(list_aggregate(list_transform("
                f"range(1, len({a})+1), "
                f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum') "
                f"* 1e6 + 0.5)::BIGINT")

    parts = [
        "WITH base AS (SELECT vec_id, "
        "list_transform(embedding, v -> v::DOUBLE) AS emb "
        "FROM embeddings)",
        "s1 AS (SELECT vec_id, emb FROM base ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT b.vec_id, b.emb, {d2('b.emb', 's1.emb')} "
        f"AS mind FROM base b CROSS JOIN s1)"]
    for t in range(2, k + 1):
        parts.append(
            f"s{t} AS (SELECT vec_id, emb, mind FROM d{t - 1} "
            f"ORDER BY mind DESC, vec_id ASC LIMIT 1)")
        if t < k:
            parts.append(
                f"d{t} AS (SELECT d.vec_id, d.emb, "
                f"least(d.mind, {d2('d.emb', f's{t}.emb')}) AS mind "
                f"FROM d{t - 1} d CROSS JOIN s{t})")
    # mind > 0 replays the operator's early stop (select_centers breaks
    # when every remaining point duplicates a chosen center). The state
    # is monotone non-increasing and folding a duplicate center is a
    # least()-no-op, so once one step's argmax hits 0 every later step's
    # does too — a per-leg filter is exactly the loop break.
    sel = ["SELECT 1 AS step, vec_id, 0.0 AS dist2 FROM s1"]
    for t in range(2, k + 1):
        sel.append(f"SELECT {t}, vec_id, mind / 1e6 FROM s{t} "
                   f"WHERE mind > 0")
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(sel)


ORACLE_KCENTER_CORESET = _kcenter_oracle_sql(_KCENTER_K)


_COVERAGE_K = 6
_COVERAGE_N = 3


def q_coverage_coreset_documents(spark, sf_dir):
    """GreedyCoverageSelector gate: budgeted submodular max-coverage
    selection of 6 documents over 3-word shingles — each step picks
    the doc adding the most not-yet-covered distinct shingles (ties
    to the smaller id). Gains are integer counts, so the greedy
    trajectory replays exactly in the oracle's unrolled k-step CTE
    chain with no float tolerance."""
    from flink_ml__spark.functions.curation import GreedyCoverageSelector

    docs = load_table(spark, "documents", sf_dir)
    return (GreedyCoverageSelector().setNumDocs(_COVERAGE_K)
            .setShingleSize(_COVERAGE_N).select_docs(docs))


def _coverage_oracle_sql(k: int, n: int) -> str:
    """Unrolled greedy max-coverage replay: g{t} counts each doc's
    remaining (uncovered) shingle hashes, s{t} takes the argmax
    (count DESC, id ASC), r{t} removes the pick's hashes from the
    remaining pair set. A fully covered doc vanishes from g{t+1}, so
    every emitted row has gain >= 1 and the UNION legs stop adding
    rows exactly when the operator's loop breaks — early-stop parity
    is structural, no WHERE guard needed (cf. the KCenter oracle)."""
    parts = [
        f"WITH toks AS (SELECT doc_id, text, {_TOK_SQL} AS toks "
        f"FROM documents)",
        "sh AS (SELECT doc_id, CASE WHEN text IS NULL "
        "THEN []::VARCHAR[] ELSE "
        f"{_shingle_sql(n)} END AS sh FROM toks)",
        f"r0 AS (SELECT doc_id, {_H60.format(x='s')} AS h "
        "FROM sh, unnest(sh.sh) AS u(s))"]
    for t in range(1, k + 1):
        parts.append(
            f"g{t} AS (SELECT doc_id, count(*)::BIGINT AS c "
            f"FROM r{t - 1} GROUP BY 1)")
        parts.append(
            f"s{t} AS (SELECT doc_id, c FROM g{t} "
            f"ORDER BY c DESC, doc_id ASC LIMIT 1)")
        if t < k:
            parts.append(
                f"r{t} AS (SELECT p.* FROM r{t - 1} p WHERE p.h NOT IN "
                f"(SELECT r.h FROM r{t - 1} r "
                f"JOIN s{t} USING (doc_id)))")
    sel = [f"SELECT {t} AS step, doc_id, c AS gain FROM s{t}"
           for t in range(1, k + 1)]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(sel)


ORACLE_COVERAGE_CORESET = _coverage_oracle_sql(_COVERAGE_K, _COVERAGE_N)


def q_coverage_novelty_documents(spark, sf_dir):
    """Novelty-scoring gate: odd-id crawl documents scored by the
    fraction of their distinct 3-word shingles that appear nowhere in
    the even-id corpus — the rank-the-crawl dual of the boilerplate
    gate (corpus-common mass) and the all-candidates form of the
    greedy coverage gain (`GreedyCoverageSelector.novelty_against`)."""
    from flink_ml__spark.functions.curation import GreedyCoverageSelector

    docs = load_table(spark, "documents", sf_dir)
    sel = GreedyCoverageSelector().setShingleSize(_COVERAGE_N)
    out = sel.novelty_against(docs.filter(F.col("doc_id") % 2 == 1),
                              docs.filter(F.col("doc_id") % 2 == 0))
    return out.select("doc_id", "n_shingles", "n_novel",
                      _fq("novelty_frac").alias("novelty_frac"))


ORACLE_COVERAGE_NOVELTY = f"""
WITH toks AS (SELECT doc_id, text, {_TOK_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, CASE WHEN text IS NULL THEN []::VARCHAR[]
                           ELSE {_shingle_sql(_COVERAGE_N)} END AS sh
       FROM toks),
px AS (SELECT doc_id, {_H60.format(x='s')} AS h
       FROM sh, unnest(sh.sh) AS u(s)),
uni AS (SELECT DISTINCT h FROM px WHERE doc_id % 2 = 0),
crawl AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
tot AS (SELECT doc_id, count(*)::BIGINT AS n FROM px
        WHERE doc_id % 2 = 1 GROUP BY 1),
nov AS (SELECT doc_id, count(*)::BIGINT AS n FROM px
        WHERE doc_id % 2 = 1 AND h NOT IN (SELECT h FROM uni)
        GROUP BY 1)
SELECT c.doc_id, coalesce(tot.n, 0)::BIGINT AS n_shingles,
       coalesce(nov.n, 0)::BIGINT AS n_novel,
       floor((CASE WHEN tot.n > 0
              THEN coalesce(nov.n, 0) / tot.n::DOUBLE END)
             * 1e{R} + 0.5) / 1e{R} AS novelty_frac
FROM crawl c LEFT JOIN tot USING (doc_id) LEFT JOIN nov USING (doc_id)
"""


_PAD_K = 8
_WS_COUNT_SQL = ("coalesce(len(list_filter(string_split_regex(text, "
                 "'\\s+'), x -> x <> '')), 0)")


def q_padding_waste_documents(spark, sf_dir):
    """PaddingWasteProfiler gate: whitespace token counts into 8
    quantile length bands; the exact percentile boundaries (floor-1e6
    quantized), the comparison-chain bucket assignment and the
    per-band padding math all replay in SQL."""
    from flink_ml__spark.functions.curation import PaddingWasteProfiler
    from flink_ml__spark.functions.text import TokenCounter

    docs = load_table(spark, "documents", sf_dir)
    counted = TokenCounter().transform(docs)
    out = (PaddingWasteProfiler().setTokenCol("n_tokens")
           .setNumBuckets(_PAD_K).transform(counted))
    return out.select("bucket", "n_docs", "min_len", "max_len",
                      "sum_tokens", _fq("padding_frac")
                      .alias("padding_frac"))


def _padding_waste_oracle_sql(k: int) -> str:
    probs = ", ".join(str(i / k) for i in range(1, k))
    chain = " + ".join(f"(nt > bs[{i}])::INT" for i in range(1, k))
    return f"""
WITH t AS (SELECT {_WS_COUNT_SQL}::DOUBLE AS nt FROM documents),
b AS (SELECT list_transform(quantile_cont(nt, [{probs}]),
                            q -> floor(q * 1e6 + 0.5) / 1e6) AS bs
      FROM t),
assigned AS (SELECT nt, 1 + {chain} AS bucket FROM t CROSS JOIN b),
per AS (SELECT bucket, count(*)::BIGINT AS n_docs,
               min(nt)::BIGINT AS min_len, max(nt)::BIGINT AS max_len,
               sum(nt)::BIGINT AS sum_tokens
        FROM assigned GROUP BY 1)
SELECT bucket, n_docs, min_len, max_len, sum_tokens,
       floor((CASE WHEN max_len > 0
              THEN (n_docs::DOUBLE * max_len - sum_tokens)
                   / (n_docs::DOUBLE * max_len) ELSE 0.0 END)
             * 1e{R} + 0.5) / 1e{R} AS padding_frac
FROM per
"""


ORACLE_PADDING_WASTE = _padding_waste_oracle_sql(_PAD_K)


def q_tokenizer_fertility_documents(spark, sf_dir):
    """TokenizerFertilityProfiler gate: per-lang whitespace words vs
    BPE-ish regex tokens vs chars, plus the corpus-relative fertility
    ratio — two aggregation levels, both replayed in SQL."""
    from flink_ml__spark.functions.text import TokenizerFertilityProfiler

    docs = load_table(spark, "documents", sf_dir)
    out = TokenizerFertilityProfiler().setGroupCol("lang").transform(docs)
    return out.select("lang", "n_docs", "n_words", "n_tokens", "n_chars",
                      _fq("fertility").alias("fertility"),
                      _fq("chars_per_token").alias("chars_per_token"),
                      _fq("rel_fertility").alias("rel_fertility"))


ORACLE_TOKENIZER_FERTILITY = f"""
WITH t AS (
  SELECT lang,
         {_WS_COUNT_SQL} AS w,
         coalesce(len(regexp_extract_all(
             text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')), 0) AS tk,
         len(coalesce(text, '')) AS ch
  FROM documents),
per AS (SELECT lang, count(*)::BIGINT AS n_docs,
               sum(w)::BIGINT AS n_words, sum(tk)::BIGINT AS n_tokens,
               sum(ch)::BIGINT AS n_chars
        FROM t GROUP BY 1),
tot AS (SELECT sum(n_words) AS tw, sum(n_tokens) AS tt FROM per)
SELECT lang, n_docs, n_words, n_tokens, n_chars,
       floor((CASE WHEN n_words > 0
              THEN n_tokens / n_words::DOUBLE END) * 1e{R} + 0.5) / 1e{R}
           AS fertility,
       floor((CASE WHEN n_tokens > 0
              THEN n_chars / n_tokens::DOUBLE END) * 1e{R} + 0.5) / 1e{R}
           AS chars_per_token,
       floor(((CASE WHEN n_words > 0
               THEN n_tokens / n_words::DOUBLE END)
              / (CASE WHEN tw > 0 THEN tt / tw::DOUBLE END))
             * 1e{R} + 0.5) / 1e{R} AS rel_fertility
FROM per CROSS JOIN tot
"""



_BP_N = 5


def q_boilerplate_fraction_documents(spark, sf_dir):
    """BoilerplateFractionScorer gate: per-doc fraction of distinct
    5-word shingles appearing in >= 2 distinct documents. The Arrow
    shingle hasher, the hash-level doc-frequency table and the
    common-set semi-join all replay on the string shingles + md5[:15]
    in SQL (same token/shingle/hash idioms as the dedup oracles)."""
    from flink_ml__spark.functions.curation import BoilerplateFractionScorer

    docs = load_table(spark, "documents", sf_dir)
    out = (BoilerplateFractionScorer().setShingleSize(_BP_N).setMinDf(2)
           .transform(docs))
    return out.select("doc_id", "n_shingles", "n_common",
                      _fq("boilerplate_frac").alias("boilerplate_frac"))


ORACLE_BOILERPLATE_FRACTION = f"""
WITH toks AS (SELECT doc_id, text, {_TOK_SQL} AS toks FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN text IS NULL THEN []::VARCHAR[]
                   ELSE {_shingle_sql(_BP_N)} END AS sh
       FROM toks),
ex AS (SELECT doc_id, {_H60.format(x='s')} AS h
       FROM sh, unnest(sh.sh) AS u(s)),
dfreq AS (SELECT h, count(*) AS c FROM ex GROUP BY 1),
nc AS (SELECT ex.doc_id, count(*)::BIGINT AS n_common
       FROM ex JOIN dfreq ON ex.h = dfreq.h
       WHERE dfreq.c >= 2 GROUP BY 1)
SELECT s.doc_id, len(s.sh)::BIGINT AS n_shingles,
       coalesce(nc.n_common, 0)::BIGINT AS n_common,
       floor((CASE WHEN len(s.sh) > 0
              THEN coalesce(nc.n_common, 0) / len(s.sh)::DOUBLE END)
             * 1e{R} + 0.5) / 1e{R} AS boilerplate_frac
FROM sh s LEFT JOIN nc ON s.doc_id = nc.doc_id
"""



def q_boilerplate_against_documents(spark, sf_dir):
    """Incremental boilerplate scoring gate: common-shingle statistic
    fit on the even-id half of the corpus, odd-id docs scored against
    it via transform_against — the production score-the-new-crawl
    path (and what the streaming twin replays per micro-batch)."""
    from flink_ml__spark.functions.curation import BoilerplateFractionScorer

    docs = load_table(spark, "documents", sf_dir)
    sc = BoilerplateFractionScorer().setShingleSize(_BP_N).setMinDf(2)
    common = sc.common_table(docs.filter(F.col("doc_id") % 2 == 0))
    out = sc.transform_against(docs.filter(F.col("doc_id") % 2 == 1),
                               common)
    return out.select("doc_id", "n_shingles", "n_common",
                      _fq("boilerplate_frac").alias("boilerplate_frac"))


ORACLE_BOILERPLATE_AGAINST = f"""
WITH toks AS (SELECT doc_id, text, {_TOK_SQL} AS toks FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN text IS NULL THEN []::VARCHAR[]
                   ELSE {_shingle_sql(_BP_N)} END AS sh
       FROM toks),
ref_ex AS (SELECT doc_id, {_H60.format(x='s')} AS h
           FROM sh, unnest(sh.sh) AS u(s) WHERE doc_id % 2 = 0),
common AS (SELECT h FROM (SELECT h, count(*) AS c FROM ref_ex
                          GROUP BY 1) WHERE c >= 2),
qry AS (SELECT doc_id, sh FROM sh WHERE doc_id % 2 = 1),
q_ex AS (SELECT doc_id, {_H60.format(x='s')} AS h
         FROM qry, unnest(qry.sh) AS u(s)),
nc AS (SELECT q_ex.doc_id, count(*)::BIGINT AS n_common
       FROM q_ex JOIN common USING (h) GROUP BY 1)
SELECT q.doc_id, len(q.sh)::BIGINT AS n_shingles,
       coalesce(nc.n_common, 0)::BIGINT AS n_common,
       floor((CASE WHEN len(q.sh) > 0
              THEN coalesce(nc.n_common, 0) / len(q.sh)::DOUBLE END)
             * 1e{R} + 0.5) / 1e{R} AS boilerplate_frac
FROM qry q LEFT JOIN nc ON q.doc_id = nc.doc_id
"""


QUERIES = {
    # --- driver-gate window (first 50): stalest
    # driver CORRECTNESS evidence first — rotated by
    # tools/rotate_gates.py
    "label_prop_events": q_label_prop_events,
    "assoc_lineitem": q_assoc_lineitem,
    "corr_matrix_lineitem": q_corr_matrix_lineitem,
    "copurchase_pmi_lineitem": q_copurchase_pmi_lineitem,
    "mean_shift_events": q_mean_shift_events,
    "corr_window_events": q_corr_window_events,
    "stratified_sample_documents": q_stratified_sample_documents,
    "best_per_stratum_documents": q_best_per_stratum_documents,
    "salted_join_events": q_salted_join_events,
    "bm25_retrieval_documents": q_bm25_documents,
    "hybrid_rrf_documents": q_hybrid_rrf_documents,
    "heavy_hitters_documents": q_heavy_hitters_documents,
    "cardinality_events": q_cardinality_events,
    "cardinality_invariants_events": q_cardinality_invariants_events,
    "skew_profile_events": q_skew_profile_events,
    "bigram_lm_documents": q_bigram_lm_documents,
    "line_dedup_documents": q_line_dedup_documents,
    "ppl_bucket_documents": q_ppl_bucket_documents,
    "dsir_weights_documents": q_dsir_weights_documents,
    "quantile_invariants_documents": q_quantile_invariants_documents,
    "split_leakage_documents": q_split_leakage_documents,
    "cluster_reps_documents": q_cluster_reps_documents,
    "chunk_documents": q_chunk_documents,
    "multimodal_scene_changes": q_multimodal_scene_changes,
    "quantize_embeddings": q_quantize_embeddings,
    "expectations_orders": q_expectations_orders,
    "ranking_eval_documents": q_ranking_eval_documents,
    "skew_summary_events": q_skew_summary_events,
    "json_props_events": q_json_props_events,
    "url_parse_documents": q_url_parse_documents,
    "url_canonical_documents": q_url_canonical_documents,
    "url_dedup_documents": q_url_dedup_documents,
    "url_domain_filter_documents": q_url_domain_filter_documents,
    "pq_invariants_embeddings": q_pq_invariants_embeddings,
    "ann_pq_topk": q_ann_pq_topk,
    "cms_invariants_events": q_cms_invariants_events,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "calibration_bins_documents": q_calibration_bins_documents,
    "calibration_eval_documents": q_calibration_eval_documents,
    "ewma_forecast_events": q_ewma_forecast_events,
    "negative_sample_documents": q_negative_sample_documents,
    "bloom_join_events": q_bloom_join_events,
    "readability_documents": q_readability_documents,
    "dataset_fingerprint_orders": q_dataset_fingerprint_orders,
    "label_consensus_documents": q_label_consensus_documents,
    "classification_report_documents": q_classification_report_documents,
    "kappa_documents": q_kappa_documents,
    "ab_test_orders": q_ab_test_orders,
    "benford_orders": q_benford_orders,
    "minmax_scale_lineitem": q_minmax_scale_lineitem,
    # --- outside the window this round
    "maxabs_scale_orders": q_maxabs_scale_orders,
    "robust_scale_lineitem": q_robust_scale_lineitem,
    "quantile_bins_orders": q_quantile_bins_orders,
    "string_index_events": q_string_index_events,
    "target_encode_orders": q_target_encode_orders,
    "regression_eval_orders": q_regression_eval_orders,
    "silhouette_lineitem": q_silhouette_lineitem,
    "kmeans_invariants_embeddings": q_kmeans_invariants_embeddings,
    "ks_test_events": q_ks_test_events,
    "mwu_test_events": q_mwu_test_events,
    "anova_events": q_anova_events,
    "ks_window_events": q_ks_window_events,
    "feature_hash_events": q_feature_hash_events,
    "mad_outliers_orders": q_mad_outliers_orders,
    "transitions_events": q_transitions_events,
    "rare_collapse_documents": q_rare_collapse_documents,
    "table_profile_orders": q_table_profile_orders,
    "image_dhash_documents": q_image_dhash_documents,
    "image_dup_pairs_documents": q_image_dup_pairs_documents,
    "random_projection_embeddings": q_random_projection_embeddings,
    "ohlc_events": q_ohlc_events,
    "isotonic_invariants_documents": q_isotonic_invariants_documents,
    "assemble_features_lineitem": q_assemble_features_lineitem,
    "grouped_scale_events": q_grouped_scale_events,
    "ql_retrieval_documents": q_ql_retrieval_documents,
    "embedding_drift_embeddings": q_embedding_drift_embeddings,
    "gini_documents": q_gini_documents,
    "spearman_lineitem": q_spearman_lineitem,
    "attribution_events": q_attribution_events,
    "fd_profile_orders": q_fd_profile_orders,
    "paraphrase_pairs_documents": q_paraphrase_pairs_documents,
    "leakage_safe_split_documents": q_leakage_safe_split_documents,
    "holt_forecast_events": q_holt_forecast_events,
    "lexical_diversity_documents": q_lexical_diversity_documents,
    "code_density_documents": q_code_density_documents,
    "nb_lang_documents": q_nb_lang_documents,
    "hard_negatives_embeddings": q_hard_negatives_embeddings,
    "zipf_documents": q_zipf_documents,
    "interarrival_events": q_interarrival_events,
    "platt_invariants_documents": q_platt_invariants_documents,
    "quantile_match_events": q_quantile_match_events,
    "regression_window_events": q_regression_window_events,
    "count_encode_documents": q_count_encode_documents,
    "anova_window_events": q_anova_window_events,
    "minhash_topk_documents": q_minhash_topk_documents,
    "json_schema_events": q_json_schema_events,
    "cdc_chunks_documents": q_cdc_chunks_documents,
    "json_drift_events": q_json_drift_events,
    "hashed_tf_documents": q_hashed_tf_documents,
    "chunk_overlap_documents": q_chunk_overlap_documents,
    "prototypicality_embeddings": q_prototypicality_embeddings,
    "interval_merge_events": q_interval_merge_events,
    "acf_events": q_acf_events,
    "rolling_features_events": q_rolling_features_events,
    "link_prediction_orders": q_link_prediction_orders,
    "kcore_orders": q_kcore_orders,
    "encoding_corruption_documents": q_encoding_corruption_documents,
    "outlinks_documents": q_outlinks_documents,
    "ppr_events": q_ppr_events,
    "interval_overlap_events": q_interval_overlap_events,
    "image_ahash_documents": q_image_ahash_documents,
    "seasonal_decompose_events": q_seasonal_decompose_events,
    "mutual_info_orders": q_mutual_info_orders,
    "cusum_events": q_cusum_events,
    "sentences_documents": q_sentences_documents,
    "golden_records_orders": q_golden_records_orders,
    "quantile_window_events": q_quantile_window_events,
    "quantile_monitor_invariants_events": q_quantile_monitor_invariants_events,
    "temporal_split_events": q_temporal_split_events,
    "correlation_rank_lineitem": q_correlation_rank_lineitem,
    "hashed_tfidf_documents": q_hashed_tfidf_documents,
    "welch_ttest_events": q_welch_ttest_events,
    "theilsen_events": q_theilsen_events,
    "mann_kendall_events": q_mann_kendall_events,
    "assortativity_events": q_assortativity_events,
    "compaction_plan_documents": q_compaction_plan_documents,
    "bootstrap_ci_events": q_bootstrap_ci_events,
    "overlap_invariants_events": q_overlap_invariants_events,
    "conformal_events": q_conformal_events,
    "welch_window_events": q_welch_window_events,
    "cuped_events": q_cuped_events,
    "session_paths_events": q_session_paths_events,
    "did_events": q_did_events,
    "covariate_balance_events": q_covariate_balance_events,
    "rbo_events": q_rbo_events,
    "heaps_documents": q_heaps_documents,
    "fdr_events": q_fdr_events,
    "forecast_accuracy_events": q_forecast_accuracy_events,
    "logrank_events": q_logrank_events,
    "weibull_events": q_weibull_events,
    "srm_window_events": q_srm_window_events,
    "mde_events": q_mde_events,
    "truncation_audit_embeddings": q_truncation_audit_embeddings,
    "anisotropy_embeddings": q_anisotropy_embeddings,
    "kn_bigram_documents": q_kn_bigram_documents,
    "conversion_lag_events": q_conversion_lag_events,
    "merge_stats_orders": q_merge_stats_orders,
    "fk_check_orders": q_fk_check_orders,
    "rouge_documents": q_rouge_documents,
    "audio_silence_documents": q_audio_silence_documents,
    "qini_events": q_qini_events,
    "ratio_metric_events": q_ratio_metric_events,
    "ratio_window_events": q_ratio_window_events,
    "rank_gauss_lineitem": q_rank_gauss_lineitem,
    "k_anonymity_events": q_k_anonymity_events,
    "lorenz_events": q_lorenz_events,
    "qq_events": q_qq_events,
    "eb_rates_events": q_eb_rates_events,
    "ltv_events": q_ltv_events,
    "holm_events": q_holm_events,
    "ess_documents": q_ess_documents,
    "chao1_documents": q_chao1_documents,
    "source_diversity_documents": q_source_diversity_documents,
    "semdedup_embeddings": q_semdedup_embeddings,
    "fcm_embeddings_clusters": q_fcm_embeddings_clusters,
    "canopy_customer": q_canopy_customer,
    "kmeans_embeddings_clusters": q_kmeans_embeddings_clusters,
    "otsu_threshold_documents": q_otsu_threshold_documents,
    "partition_health_orders": q_partition_health_orders,
    "temperature_mix_documents": q_temperature_mix_documents,
    "kaplan_meier_events": q_kaplan_meier_events,
    "kcenter_coreset_embeddings": q_kcenter_coreset_embeddings,
    "padding_waste_documents": q_padding_waste_documents,
    "tokenizer_fertility_documents": q_tokenizer_fertility_documents,
    "boilerplate_fraction_documents": q_boilerplate_fraction_documents,
    "boilerplate_against_documents": q_boilerplate_against_documents,
    "pii_redact_documents": q_pii_redact_documents,
    "line_filter_documents": q_line_filter_documents,
    "unigram_logprob_documents": q_unigram_logprob_documents,
    "corpus_profile_documents": q_corpus_profile_documents,
    "balance_targets_documents": q_balance_targets_documents,
    "multimodal_image_resize": q_multimodal_image_resize,
    "multimodal_frame_means": q_multimodal_frame_means,
    "pca_invariants_embeddings": q_pca_invariants_embeddings,
    "winsorize_orders": q_winsorize_orders,
    "dedup_exact_against_documents": q_dedup_exact_against_documents,
    "dedup_bloom_documents": q_dedup_bloom_documents,
    "dedup_substring_documents": q_dedup_substring_documents,
    "substring_decontaminate_documents": q_substring_decontaminate_documents,
    "embedding_contamination": q_embedding_contamination,
    "semdedup_invariants_embeddings": q_semdedup_invariants_embeddings,
    "gopher_quality_documents": q_gopher_quality_documents,
    "normalize_documents": q_normalize_documents,
    "frequent_ngrams_documents": q_frequent_ngrams_documents,
    "epoch_shuffle_documents": q_epoch_shuffle_documents,
    "domain_divergence_documents": q_domain_divergence_documents,
    "token_budget_documents": q_token_budget_documents,
    "weighted_sample_documents": q_weighted_sample_documents,
    "quality_classifier_documents": q_quality_classifier_documents,
    "sessionize_events": q_sessionize_events,
    "asof_join_events": q_asof_join_events,
    "asof_forward_events": q_asof_forward_events,
    "asof_nearest_events": q_asof_nearest_events,
    "range_join_events": q_range_join_events,
    "winnow_fingerprints_documents": q_winnow_fingerprints_documents,
    "curation_pipeline_documents": q_curation_pipeline_documents,
    "repetition_documents": q_repetition_documents,
    "split_documents": q_split_documents,
    "contamination_documents": q_contamination_documents,
    "tfidf_keywords_documents": q_tfidf_keywords_documents,
    "dup_clusters_documents": q_dup_clusters_documents,
    "pack_documents": q_pack_documents,
    "balance_documents": q_balance_documents,
    "multimodal_image_stats": q_multimodal_image_stats,
    "multimodal_audio_features": q_multimodal_audio_features,
    "fingerprint_documents": q_fingerprint_documents,
    "multimodal_meta_documents": q_multimodal_meta_documents,
    "dedup_minhash_against_documents": q_dedup_minhash_against_documents,
    "coverage_coreset_documents": q_coverage_coreset_documents,
    "coverage_novelty_documents": q_coverage_novelty_documents,
    "unimax_alloc_documents": q_unimax_alloc_documents,
    "rollup_gapfill_events": q_rollup_gapfill_events,
    "anomaly_events": q_anomaly_events,
    "scd2_events": q_scd2_events,
    "zorder_key_events": q_zorder_key_events,
    "fuzzy_link_part": q_fuzzy_link_part,
    "snapshot_diff_orders": q_snapshot_diff_orders,
    "expectation_monitor_events": q_expectation_monitor_events,
    "markup_strip_documents": q_markup_strip_documents,
    "script_profile_documents": q_script_profile_documents,
    "compression_invariants_documents": q_compression_invariants_documents,
    "bpe_tokenize_documents": q_bpe_tokenize_documents,
    "phrase_match_documents": q_phrase_match_documents,
    "drift_report_orders": q_drift_report_orders,
    "classification_eval_documents": q_classification_eval_documents,
    "categorical_drift_events": q_categorical_drift_events,
    "drift_monitor_window_events": q_drift_monitor_window_events,
    "trending_events": q_trending_events,
    "cohort_retention_events": q_cohort_retention_events,
    "funnel_events": q_funnel_events,
    "pagerank_events": q_pagerank_events,
    "triangles_events": q_triangles_events,
    "components_events": q_components_events,
    "fcm_invariants_embeddings": q_fcm_invariants_embeddings,
    "canopy_invariants_customer": q_canopy_invariants_customer,
    "minhash_recall_documents": q_minhash_recall_documents,
    "ann_ivf_topk": q_ann_ivf_topk,
    "online_topsis_model_events": q_online_topsis_model_events,
    "online_topsis_predict_events": q_online_topsis_predict_events,
    "auto_features_orders": q_auto_features_orders,
    "ahp_score_lineitem": q_ahp_score_lineitem,
    "topsis_score_part": q_topsis_score_part,
    "online_ahp_events": q_online_ahp_events,
    "apriori_rules_events": q_apriori_rules_events,
    "mean_imputer_orders": q_mean_imputer_orders,
    "standard_scaler_lineitem": q_standard_scaler_lineitem,
    "time_features_orders": q_time_features_orders,
    "dedup_exact_documents": q_dedup_exact_documents,
    "dedup_minhash_documents": q_dedup_minhash_documents,
    "dedup_simhash_documents": q_dedup_simhash_documents,
    "ngram_jaccard_pairs_documents": q_ngram_jaccard_pairs_documents,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "ann_cosine_topk": q_ann_cosine_topk,
    "lang_id_documents": q_lang_id_documents,
    "quality_documents": q_quality_documents,
    "quality_filter_documents": q_quality_filter_documents,
    "token_count_documents": q_token_count_documents,
}

ORACLES = {
    "holt_forecast_events": ORACLE_HOLT,
    "ql_retrieval_documents": ORACLE_QL,
    "embedding_drift_embeddings": ORACLE_EMBEDDING_DRIFT,
    "otsu_threshold_documents": ORACLE_OTSU,
    "gini_documents": ORACLE_GINI,
    "spearman_lineitem": ORACLE_SPEARMAN,
    "attribution_events": ORACLE_ATTRIBUTION,
    "fd_profile_orders": ORACLE_FD_PROFILE,
    "partition_health_orders": ORACLE_PARTITION_HEALTH,
    "paraphrase_pairs_documents": _oracle_paraphrase_pairs(),
    "temperature_mix_documents": ORACLE_TEMPERATURE_MIX,
    "unimax_alloc_documents": ORACLE_UNIMAX_ALLOC,
    "leakage_safe_split_documents": _oracle_leakage_safe_split(),
    "hard_negatives_embeddings": ORACLE_HARD_NEGATIVES,
    "zipf_documents": ORACLE_ZIPF,
    "interarrival_events": ORACLE_INTERARRIVAL,
    "lexical_diversity_documents": ORACLE_LEXICAL_DIVERSITY,
    "code_density_documents": ORACLE_CODE_DENSITY,
    "nb_lang_documents": ORACLE_NB_LANG,
    "prototypicality_embeddings": ORACLE_PROTOTYPICALITY,
    "chunk_overlap_documents": ORACLE_CHUNK_OVERLAP,
    "hashed_tf_documents": ORACLE_HASHED_TF,
    "json_drift_events": _jsp_drift_oracle(),
    "cdc_chunks_documents": ORACLE_CDC_CHUNKS,
    "json_schema_events": ORACLE_JSON_SCHEMA,
    "minhash_topk_documents": _oracle_minhash_topk(),
    "url_parse_documents": ORACLE_URL_PARSE,
    "url_canonical_documents": ORACLE_URL_CANONICAL,
    "url_dedup_documents": ORACLE_URL_DEDUP,
    "url_domain_filter_documents": ORACLE_URL_DOMAIN_FILTER,
    "pq_invariants_embeddings": ORACLE_PQ_INVARIANTS,
    "ann_pq_topk": ORACLE_ANN_PQ,
    "cms_invariants_events": ORACLE_CMS_INVARIANTS,
    "ann_ivfpq_topk": ORACLE_ANN_IVFPQ,
    "calibration_bins_documents": ORACLE_CALIBRATION_BINS,
    "calibration_eval_documents": ORACLE_CALIBRATION_EVAL,
    "ewma_forecast_events": ORACLE_EWMA,
    "negative_sample_documents": ORACLE_NEGATIVE_SAMPLE,
    "bloom_join_events": ORACLE_BLOOM_JOIN,
    "readability_documents": ORACLE_READABILITY,
    "dataset_fingerprint_orders": ORACLE_DATASET_FINGERPRINT,
    "label_consensus_documents": ORACLE_LABEL_CONSENSUS,
    "classification_report_documents": ORACLE_CLASSIFICATION_REPORT,
    "kappa_documents": ORACLE_KAPPA,
    "ab_test_orders": ORACLE_AB_TEST,
    "benford_orders": ORACLE_BENFORD,
    "minmax_scale_lineitem": ORACLE_MINMAX_SCALE,
    "maxabs_scale_orders": ORACLE_MAXABS_SCALE,
    "robust_scale_lineitem": ORACLE_ROBUST_SCALE,
    "quantile_bins_orders": ORACLE_QUANTILE_BINS,
    "string_index_events": ORACLE_STRING_INDEX,
    "target_encode_orders": ORACLE_TARGET_ENCODE,
    "regression_eval_orders": ORACLE_REGRESSION_EVAL,
    "silhouette_lineitem": ORACLE_SILHOUETTE,
    "kmeans_invariants_embeddings": ORACLE_KMEANS_INVARIANTS,
    "ks_test_events": ORACLE_KS_TEST,
    "mwu_test_events": ORACLE_MWU_TEST,
    "anova_events": ORACLE_ANOVA,
    "ks_window_events": ORACLE_KS_WINDOW,
    "feature_hash_events": ORACLE_FEATURE_HASH,
    "mad_outliers_orders": ORACLE_MAD_OUTLIERS,
    "transitions_events": ORACLE_TRANSITIONS,
    "rare_collapse_documents": ORACLE_RARE_COLLAPSE,
    "table_profile_orders": ORACLE_TABLE_PROFILE,
    "image_dhash_documents": ORACLE_IMAGE_DHASH,
    "image_dup_pairs_documents": ORACLE_IMAGE_DUP_PAIRS,
    "random_projection_embeddings": ORACLE_RANDOM_PROJECTION,
    "ohlc_events": ORACLE_OHLC,
    "isotonic_invariants_documents": ORACLE_ISOTONIC_INVARIANTS,
    "assemble_features_lineitem": ORACLE_ASSEMBLE,
    "grouped_scale_events": ORACLE_GROUPED_SCALE,
    "platt_invariants_documents": ORACLE_PLATT_INVARIANTS,
    "quantile_match_events": ORACLE_QUANTILE_MATCH,
    "regression_window_events": ORACLE_REGRESSION_WINDOW,
    "count_encode_documents": ORACLE_COUNT_ENCODE,
    "anova_window_events": ORACLE_ANOVA_WINDOW,
    "ahp_score_lineitem": ORACLE_AHP,
    "topsis_score_part": ORACLE_TOPSIS,
    "online_ahp_events": ORACLE_ONLINE_AHP,
    "online_topsis_model_events": ORACLE_ONLINE_TOPSIS_MODEL,
    "online_topsis_predict_events": ORACLE_ONLINE_TOPSIS_PREDICT,
    "apriori_rules_events": ORACLE_APRIORI,
    # fcm / canopy / kmeans / semdedup: iterative + seeded, so the free
    # outputs are pytest-only; BOTH registry entries per operator are
    # hard expected-empty invariant checks (WHERE-false oracles) that
    # cover complementary invariants
    "fcm_embeddings_clusters": ORACLE_FCM_PARTITION,
    "canopy_customer": ORACLE_CANOPY_COVERAGE,
    "kmeans_embeddings_clusters": ORACLE_KMEANS_PARTITION,
    "semdedup_embeddings": ORACLE_SEMDEDUP_PLANTS,
    "fcm_invariants_embeddings": ORACLE_FCM_INVARIANTS,
    "pca_invariants_embeddings": ORACLE_PCA_INVARIANTS,
    "canopy_invariants_customer": ORACLE_CANOPY_INVARIANTS,
    "mean_imputer_orders": ORACLE_MEAN_IMPUTER,
    "standard_scaler_lineitem": ORACLE_STANDARD_SCALER,
    "time_features_orders": ORACLE_TIME_FEATURES,
    "auto_features_orders": ORACLE_AUTO_FEATURES,
    "winsorize_orders": ORACLE_WINSORIZE,
    "dedup_exact_documents": ORACLE_DEDUP_EXACT,
    "dedup_exact_against_documents": ORACLE_DEDUP_EXACT_AGAINST,
    "dedup_bloom_documents": ORACLE_DEDUP_BLOOM,
    "dedup_minhash_against_documents": _oracle_minhash_against(),
    "dedup_minhash_documents": _oracle_minhash(),
    "dedup_simhash_documents": _oracle_simhash(),
    "ngram_jaccard_pairs_documents": _oracle_ngram_jaccard(),
    "dedup_substring_documents": _oracle_substring(),
    "substring_decontaminate_documents": _oracle_substring_decontaminate(),
    "minhash_recall_documents": _oracle_minhash_recall(),
    "dedup_embedding_cosine": _oracle_embedding_dedup(),
    "ann_cosine_topk": ORACLE_ANN,
    # violations-only recall-floor gate: expected EMPTY on both sides —
    # a recall regression emits rows and fails the count/hash check
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "quantize_embeddings": ORACLE_QUANTIZE,
    "embedding_contamination": ORACLE_EMB_CONTAMINATION,
    # semdedup kept set: seeded iterative clustering → rows-only; the
    # invariant gate is the hard expected-empty check
    "semdedup_invariants_embeddings": ORACLE_SEMDEDUP_INVARIANTS,
    "lang_id_documents": _oracle_lang_id(),
    "quality_documents": ORACLE_QUALITY,
    "quality_filter_documents": ORACLE_QUALITY_FILTER,
    "gopher_quality_documents": _oracle_gopher(),
    "token_count_documents": ORACLE_TOKEN_COUNT,
    "normalize_documents": ORACLE_NORMALIZE,
    "frequent_ngrams_documents": ORACLE_FREQUENT_NGRAMS,
    "epoch_shuffle_documents": ORACLE_EPOCH_SHUFFLE,
    "domain_divergence_documents": ORACLE_DOMAIN_DIVERGENCE,
    "token_budget_documents": ORACLE_TOKEN_BUDGET,
    "weighted_sample_documents": ORACLE_WEIGHTED_SAMPLE,
    # separation gate: expected EMPTY on both sides — a training or
    # scoring regression emits rows and fails the count/hash check
    "quality_classifier_documents": ORACLE_QUALITY_CLASSIFIER,
    "sessionize_events": ORACLE_SESSIONIZE,
    "asof_join_events": ORACLE_ASOF_JOIN,
    "asof_forward_events": ORACLE_ASOF_FORWARD,
    "asof_nearest_events": ORACLE_ASOF_NEAREST,
    "range_join_events": ORACLE_RANGE_JOIN,
    "rollup_gapfill_events": ORACLE_ROLLUP_GAPFILL,
    "anomaly_events": ORACLE_ANOMALY,
    "scd2_events": ORACLE_SCD2,
    "zorder_key_events": _oracle_zorder(),
    "fuzzy_link_part": ORACLE_FUZZY_LINK,
    "snapshot_diff_orders": ORACLE_SNAPSHOT_DIFF,
    "expectations_orders": ORACLE_EXPECTATIONS,
    "expectation_monitor_events": ORACLE_EXPECTATION_MONITOR,
    "markup_strip_documents": ORACLE_MARKUP_STRIP,
    "script_profile_documents": ORACLE_SCRIPT_PROFILE,
    "compression_invariants_documents": ORACLE_COMPRESSION_INVARIANTS,
    "bpe_tokenize_documents": ORACLE_BPE_TOKENIZE,
    "phrase_match_documents": _oracle_phrase_match(),
    "drift_report_orders": _oracle_drift(),
    "ranking_eval_documents": ORACLE_RANKING_EVAL,
    "classification_eval_documents": ORACLE_CLASSIFICATION_EVAL,
    "categorical_drift_events": ORACLE_CATEGORICAL_DRIFT,
    "drift_monitor_window_events": _oracle_window_drift(),
    "trending_events": ORACLE_TRENDING,
    "cohort_retention_events": ORACLE_COHORT_RETENTION,
    "funnel_events": ORACLE_FUNNEL,
    "pagerank_events": _oracle_pagerank(),
    "triangles_events": ORACLE_TRIANGLES,
    "components_events": ORACLE_COMPONENTS,
    "label_prop_events": _oracle_label_prop(),
    "assoc_lineitem": ORACLE_ASSOC,
    "corr_matrix_lineitem": _oracle_corr_matrix(),
    "copurchase_pmi_lineitem": ORACLE_COPURCHASE_PMI,
    "mean_shift_events": ORACLE_MEAN_SHIFT,
    "corr_window_events": _oracle_corr_window(),
    "stratified_sample_documents": ORACLE_STRATIFIED_SAMPLE,
    "best_per_stratum_documents": ORACLE_BEST_PER_STRATUM,
    "salted_join_events": ORACLE_SALTED_JOIN,
    "bm25_retrieval_documents": ORACLE_BM25,
    "hybrid_rrf_documents": ORACLE_HYBRID_RRF,
    "heavy_hitters_documents": ORACLE_HEAVY_HITTERS,
    "cardinality_events": ORACLE_CARDINALITY,
    "cardinality_invariants_events": ORACLE_CARDINALITY_INVARIANTS,
    "skew_profile_events": ORACLE_SKEW_PROFILE,
    "skew_summary_events": ORACLE_SKEW_SUMMARY,
    "json_props_events": ORACLE_JSON_PROPS,
    "bigram_lm_documents": ORACLE_BIGRAM_LM,
    "fingerprint_documents": ORACLE_FINGERPRINT,
    "winnow_fingerprints_documents": _oracle_winnow(),
    "pii_redact_documents": _oracle_pii_redact(),
    "line_filter_documents": _oracle_line_filter(),
    "line_dedup_documents": ORACLE_LINE_DEDUP,
    "unigram_logprob_documents": ORACLE_UNIGRAM,
    "ppl_bucket_documents": _oracle_ppl_bucket(),
    "dsir_weights_documents": _oracle_dsir(),
    "corpus_profile_documents": ORACLE_CORPUS_PROFILE,
    "quantile_invariants_documents": ORACLE_QUANTILE_INVARIANTS,
    "curation_pipeline_documents": _oracle_curation_pipeline(),
    "repetition_documents": ORACLE_REPETITION,
    "split_documents": ORACLE_SPLIT,
    "split_leakage_documents": _oracle_split_leakage(),
    "contamination_documents": ORACLE_CONTAMINATION,
    "tfidf_keywords_documents": ORACLE_TFIDF,
    "dup_clusters_documents": _oracle_dup_clusters(),
    "cluster_reps_documents": _oracle_cluster_reps(),
    "chunk_documents": _oracle_chunks(),
    "pack_documents": ORACLE_PACK,
    "balance_documents": ORACLE_BALANCE,
    "balance_targets_documents": _oracle_balance_targets(),
    "multimodal_meta_documents": ORACLE_MULTIMODAL_META,
    # image/audio/resize/frame gates ARE oracle-checked: the fake
    # codec's hex-domain keystream was chosen so DuckDB can replay the
    # decode (real codecs stay env-gated)
    "multimodal_image_stats": ORACLE_MULTIMODAL_IMAGE_STATS,
    "multimodal_image_resize": ORACLE_MULTIMODAL_IMAGE_RESIZE,
    "multimodal_frame_means": ORACLE_MULTIMODAL_FRAMES,
    "multimodal_scene_changes": ORACLE_MULTIMODAL_SCENES,
    "multimodal_audio_features": ORACLE_MULTIMODAL_AUDIO,
    "interval_merge_events": ORACLE_INTERVAL_MERGE,
    "acf_events": ORACLE_ACF,
    "rolling_features_events": ORACLE_ROLLING_FEATURES,
    "link_prediction_orders": ORACLE_LINK_PREDICTION,
    "kcore_orders": ORACLE_KCORE,
    "encoding_corruption_documents": ORACLE_ENCODING_CORRUPTION,
    "outlinks_documents": ORACLE_OUTLINKS,
    "ppr_events": ORACLE_PPR,
    "interval_overlap_events": ORACLE_INTERVAL_OVERLAP,
    "image_ahash_documents": ORACLE_IMAGE_AHASH,
    "seasonal_decompose_events": ORACLE_SEASONAL_DECOMPOSE,
    "mutual_info_orders": ORACLE_MUTUAL_INFO,
    "cusum_events": ORACLE_CUSUM,
    "sentences_documents": ORACLE_SENTENCES,
    "golden_records_orders": ORACLE_GOLDEN_RECORDS,
    "quantile_window_events": ORACLE_QUANTILE_WINDOW,
    "quantile_monitor_invariants_events": ORACLE_QUANTILE_MONITOR_INVARIANTS,
    "temporal_split_events": ORACLE_TEMPORAL_SPLIT,
    "correlation_rank_lineitem": ORACLE_CORRELATION_RANK,
    "hashed_tfidf_documents": ORACLE_HASHED_TFIDF,
    "welch_ttest_events": ORACLE_WELCH_TTEST,
    "theilsen_events": ORACLE_THEILSEN,
    "mann_kendall_events": ORACLE_MANN_KENDALL,
    "assortativity_events": ORACLE_ASSORTATIVITY,
    "compaction_plan_documents": ORACLE_COMPACTION_PLAN,
    "kaplan_meier_events": ORACLE_KAPLAN_MEIER,
    "bootstrap_ci_events": ORACLE_BOOTSTRAP_CI,
    "overlap_invariants_events": ORACLE_OVERLAP_INVARIANTS,
    "conformal_events": ORACLE_CONFORMAL,
    "welch_window_events": ORACLE_WELCH_WINDOW,
    "cuped_events": ORACLE_CUPED,
    "session_paths_events": ORACLE_SESSION_PATHS,
    "did_events": ORACLE_DID,
    "covariate_balance_events": ORACLE_COVARIATE_BALANCE,
    "rbo_events": ORACLE_RBO,
    "heaps_documents": ORACLE_HEAPS,
    "fdr_events": ORACLE_FDR,
    "forecast_accuracy_events": ORACLE_FORECAST_ACCURACY,
    "logrank_events": ORACLE_LOGRANK,
    "weibull_events": ORACLE_WEIBULL,
    "srm_window_events": ORACLE_SRM_WINDOW,
    "mde_events": ORACLE_MDE,
    "truncation_audit_embeddings": ORACLE_TRUNCATION_AUDIT,
    "anisotropy_embeddings": ORACLE_ANISOTROPY,
    "kn_bigram_documents": ORACLE_KN_BIGRAM,
    "conversion_lag_events": ORACLE_CONVERSION_LAG,
    "merge_stats_orders": ORACLE_MERGE_STATS,
    "fk_check_orders": ORACLE_FK_CHECK,
    "rouge_documents": ORACLE_ROUGE,
    "audio_silence_documents": ORACLE_AUDIO_SILENCE,
    "qini_events": ORACLE_QINI,
    "ratio_metric_events": ORACLE_RATIO_METRIC,
    "ratio_window_events": ORACLE_RATIO_WINDOW,
    "rank_gauss_lineitem": ORACLE_RANK_GAUSS,
    "k_anonymity_events": ORACLE_K_ANONYMITY,
    "lorenz_events": ORACLE_LORENZ,
    "qq_events": ORACLE_QQ,
    "eb_rates_events": ORACLE_EB_RATES,
    "ltv_events": ORACLE_LTV,
    "holm_events": ORACLE_HOLM,
    "ess_documents": ORACLE_ESS,
    "chao1_documents": ORACLE_CHAO1,
    "source_diversity_documents": ORACLE_SOURCE_DIVERSITY,
    "kcenter_coreset_embeddings": ORACLE_KCENTER_CORESET,
    "coverage_coreset_documents": ORACLE_COVERAGE_CORESET,
    "coverage_novelty_documents": ORACLE_COVERAGE_NOVELTY,
    "padding_waste_documents": ORACLE_PADDING_WASTE,
    "tokenizer_fertility_documents": ORACLE_TOKENIZER_FERTILITY,
    "boilerplate_fraction_documents": ORACLE_BOILERPLATE_FRACTION,
    "boilerplate_against_documents": ORACLE_BOILERPLATE_AGAINST,
}
