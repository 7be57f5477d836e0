"""Similarity search over embedding columns (array<float>).

- cosine / dot product as pure Catalyst expressions (zip_with +
  aggregate — no Python UDF, stays in whole-stage codegen).
- brute-force top-k: the exact baseline; a single narrow projection +
  global top-k (Spark TakeOrdered — no full sort).
- IVF (inverted-file) top-k: label/centroid coarse quantizer → probe
  the nearest partitions only. At 100 TB the embedding table is
  partitioned by the coarse cell id, so probing = partition pruning.
- LSH (random hyperplane) bucketed search: deterministic seeded
  planes; same banding pattern as MinHash.
- cosine near-dup pairs within blocks (label or LSH bucket) — the
  embedding analogue of near-dup text dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stable import stable_dsum


def _round6(a):
    """Half-away-from-zero rounding to 6 decimals for numpy arrays.

    ``np.round`` is IEEE half-to-even; every Catalyst expression in
    this package (``F.round``) and the DuckDB oracles round half away
    from zero, so a cosine landing exactly on a 5e-7 boundary would
    get a different 6-decimal value (and rank) from the numpy path.
    ``floor(|x|·1e6 + 0.5)·sign`` matches the half-up rule."""
    s = np.abs(a) * 1e6 + 0.5
    return np.copysign(np.floor(s) / 1e6, a)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y:
                   x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _lit_vec(vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _arrow_cosine(query_vec, vec_col: str):
    """Arrow-batched cosine scorer: each batch becomes one numpy
    matrix–vector product (BLAS) instead of an interpreted
    zip_with/aggregate per row — ~10× less per-row cost at scale.
    NULL for zero-norm vectors, matching try_divide semantics."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray([float(x) for x in query_vec], dtype="float64")
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def cos_udf(col: pd.Series) -> pd.Series:
        if len(col) == 0 or qn == 0.0:
            return pd.Series([None] * len(col), dtype="Float64")
        M = np.vstack(col.to_numpy()).astype("float64")
        norms = np.linalg.norm(M, axis=1)
        denom = norms * qn
        denom[denom == 0.0] = 1.0
        # nullable Float64 so zero-norm rows surface as SQL NULL
        # (try_divide parity), never NaN (which would sort FIRST desc)
        out = pd.Series(M @ q / denom, dtype="Float64")
        return out.mask(norms == 0.0)

    return cos_udf(F.col(vec_col))


def brute_force_topk(emb: DataFrame, query_vec, k: int = 10,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     arrow: bool = True) -> DataFrame:
    """Exact top-k by cosine against one query vector. The global
    top-k is a TakeOrdered (per-partition heap + merge), not a full
    sort — scales to arbitrarily many rows. Scoring runs as one BLAS
    matrix–vector product per Arrow batch (arrow=False falls back to
    the pure-Catalyst zip_with expression)."""
    score = (_arrow_cosine(query_vec, vec_col) if arrow
             else cosine(F.col(vec_col), _lit_vec(query_vec)))
    return (
        emb.select(F.col(id_col), score.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, (F.round("cos", 6) + F.lit(0.0)).alias("cos"))
    )


def label_centroids(emb: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label centroid — the coarse quantizer for IVF. posexplode →
    per-(label, position) mean → re-assemble ordered arrays."""
    exploded = emb.select(
        label_col, F.posexplode(vec_col).alias("pos", "v"))
    means = exploded.groupBy(label_col, "pos").agg(
        F.avg("v").alias("m"))
    return (
        means.groupBy(label_col)
        .agg(F.array_sort(
            F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(label_col,
                F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def _py_cos(a, b):
    """Driver-side cosine for ranking the (tiny) centroid lists —
    shared by every IVF variant so the ranking rule cannot drift."""
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return num / (na * nb) if na and nb else 0.0


def ivf_topk(emb: DataFrame, query_vec, k: int = 10, nprobe: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             label_col: str = "label") -> DataFrame:
    """IVF search: rank coarse cells (labels) by centroid cosine on
    the driver (|cells| rows — tiny), then brute-force ONLY within the
    nprobe nearest cells. With the table partitioned by cell id the
    isin() filter becomes partition pruning — the scan never touches
    the other cells. NULL-label rows are EXCLUDED (no cell can be
    probed for them — the posture every IVF variant shares); cosine
    ties rank the smaller cell id first, matching
    :func:`_rank_cells`' rule so the single-query and batch paths
    pick identical probes."""
    emb = emb.where(F.col(label_col).isNotNull())
    q = [float(x) for x in query_vec]
    cents = label_centroids(emb, vec_col, label_col).collect()
    ranked = sorted(
        cents,
        key=lambda r: (-_py_cos(r["centroid"], q), r[label_col]))
    probes = [r[label_col] for r in ranked[:nprobe]]
    return brute_force_topk(
        emb.where(F.col(label_col).isin(probes)), query_vec, k,
        vec_col, id_col)


def lsh_bucket(vec_col: Column, planes) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane."""
    out = F.lit(0)
    for i, plane in enumerate(planes):
        out = out + F.when(dot(vec_col, _lit_vec(plane)) >= 0,
                           F.lit(1 << i)).otherwise(0)
    return out


def deterministic_planes(dim: int, n_planes: int, seed: int = 42):
    """Seeded hyperplanes (numpy RNG) — deterministic across runs."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_topk(emb: DataFrame, query_vec, k: int = 10, n_planes: int = 8,
             seed: int = 42, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """LSH-bucketed ANN: search only the query's bucket. Recall is
    tunable via n_planes (fewer planes → bigger buckets)."""
    planes = deterministic_planes(len(query_vec), n_planes, seed)

    qb = 0
    for i, plane in enumerate(planes):
        if sum(float(a) * float(b)
               for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << i
    bucketed = emb.withColumn("_bucket", lsh_bucket(F.col(vec_col),
                                                    planes))
    return brute_force_topk(
        bucketed.where(F.col("_bucket") == qb), query_vec, k,
        vec_col, id_col)


def cosine_pairs_blocked(emb: DataFrame, threshold: float = 0.35,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         block_col: str = "label") -> DataFrame:
    """Embedding near-dup pairs, blocked: O(n²) only WITHIN blocks
    (label = coarse cell / IVF partition). Each block is one Arrow
    batch → numpy/BLAS matmul (M·Mᵀ on unit rows), emitting only
    above-threshold pairs. This is the 100 TB shape: block size is
    bounded by the quantizer, blocks are independent tasks, and the
    n²·d inner loop runs vectorized instead of per-row interpreted.
    Output: (id_a, id_b, cos), id_a < id_b."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])
    thr = float(threshold)

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        M = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        M /= norms
        S = M @ M.T
        ia, ib = np.triu_indices(n, k=1)
        cos = _round6(S[ia, ib])
        mask = cos >= thr
        return pd.DataFrame({
            "id_a": ids[ia[mask]].astype("int64"),
            "id_b": ids[ib[mask]].astype("int64"),
            "cos": cos[mask],
        })

    return (emb.select(id_col, block_col, vec_col)
            .groupBy(block_col)
            .applyInPandas(block_pairs, schema=schema))


#: brute-force knn_join collects the query side to the driver; above
#: this many rows that contract is being misused (at 64 float64 dims
#: the cap is ~512 MB of query matrix) — fail loudly, don't OOM
KNN_JOIN_QUERY_CAP = 1_000_000

#: PQIndex.knn_join broadcasts |q|·m·k doubles of ADC tables; warn
#: when the estimate passes this (well under the 8 GB broadcast cap,
#: big enough that every executor holding it starts to matter)
PQ_KNN_BROADCAST_WARN_BYTES = 256 << 20


def knn_join(emb: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             qid_col: str = "qid") -> DataFrame:
    """Batch top-k cosine neighbors: every QUERY-SET vector against
    the corpus in one pass — the kNN join behind retrieval eval,
    hard-negative mining, and embedding-based labeling (the
    single-vector ``brute_force_topk`` repeated q times would scan
    the corpus q times).

    100 TB shape: the query matrix (q×d floats — the SMALL side by
    definition) is collected once and closed over every corpus
    partition; each Arrow batch scores batch×q cosines with ONE BLAS
    matmul and keeps only its LOCAL top-k per query (global top-k is
    contained in the union of per-batch top-k), so the shuffle
    carries ≤ partitions·q·k rows instead of corpus·q scores. A
    final q·k-sized window ranks the survivors. Scores round to 6
    decimals BEFORE ranking everywhere (local cut included) with
    ties toward the smaller corpus id, so the result is
    deterministic under any partitioning. Zero-norm vectors score
    0. Output: (qid, vec_id, cos, rank), rank 1..k."""
    import numpy as np

    from pyspark.sql import types as T

    # guarded collect: queries are the small side BY CONTRACT —
    # misuse now fails loudly (here, or earlier on
    # spark.driver.maxResultSize for a truly huge frame) instead of
    # silently building an oversized q×d float matrix on the driver
    # and every executor. A take(cap+1) pre-probe was rejected:
    # take's incremental partition ramp-up re-runs the query-side
    # plan up to 4× (the connected_components lesson).
    qrows = queries.select(qid_col, vec_col).collect()
    if len(qrows) > KNN_JOIN_QUERY_CAP:
        raise ValueError(
            f"knn_join: query side exceeds {KNN_JOIN_QUERY_CAP} "
            "rows — it is the driver-collected small side by "
            "contract. Slab the query set, or use ivf_knn_join/"
            "SQIndex.knn_join/PQIndex.knn_join, which keep both "
            "sides distributed.")
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "qid long, vec_id long, cos double, rank int")
    qids = np.array([r[0] for r in qrows], dtype="int64")
    Q = np.vstack([np.asarray(r[1], dtype="float64")
                   for r in qrows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Q = Q / qn

    schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])
    kk = int(k)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy().astype("int64")
            M = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            nm = np.linalg.norm(M, axis=1, keepdims=True)
            zero = (nm == 0.0).ravel()
            nm[nm == 0.0] = 1.0
            S = (M / nm) @ Q.T  # batch × q
            S[zero, :] = 0.0
            S = _round6(S)
            take = min(kk, len(ids))
            out_q, out_i, out_c = [], [], []
            for j in range(len(qids)):
                # deterministic local cut: (cos desc, vec_id asc)
                order = np.lexsort((ids, -S[:, j]))[:take]
                out_q.append(np.full(take, qids[j]))
                out_i.append(ids[order])
                out_c.append(S[order, j])
            yield pd.DataFrame({
                "qid": np.concatenate(out_q),
                "vec_id": np.concatenate(out_i),
                "cos": np.concatenate(out_c)})

    local = emb.select(id_col, vec_col).mapInPandas(score,
                                                    schema=schema)
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos"), F.asc("vec_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= kk)
            .select("qid", "vec_id",
                    (F.col("cos") + F.lit(0.0)).alias("cos"),
                    "rank"))


class IVFIndex:
    """Build-once / search-many IVF index (the serving shape the
    per-call ``ivf_topk`` lacks: it recomputed the quantizer on every
    query).

    ``build``/``from_labels`` computes the coarse quantizer ONCE,
    assigns every vector to a cell, repartitions the corpus BY CELL
    and persists it. Each search then ranks the (driver-held, tiny)
    centroid list and scans only the probed cells — on the cached
    frame Spark skips non-matching partitions via per-batch stats; at
    100 TB the same layout is parquet ``partitionBy(cell)`` and the
    probe filter becomes directory-level partition pruning
    (``save``/``load`` below)."""

    def __init__(self, centroids: list[tuple], cells: DataFrame,
                 vec_col: str = "embedding", id_col: str = "vec_id"):
        #: list of (cell_id, centroid_vector)
        self.centroids = centroids
        self.cells = cells  # (id, vec, _cell), partitioned by _cell
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def train(cls, emb: DataFrame, k: int = 8, iters: int = 5,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> "IVFIndex":
        """k-means quantizer + cell-partitioned corpus."""
        cents = kmeans_fit(emb, k, iters, vec_col, id_col)
        cell = assign_cells(emb, cents, vec_col)
        cells = (emb.select(id_col, vec_col)
                 .withColumn("_cell", cell)
                 .repartition(max(k, 1), "_cell")
                 .persist())
        cells.count()  # materialize the build now, not on 1st search
        return cls(list(enumerate(cents)), cells, vec_col, id_col)

    @classmethod
    def from_labels(cls, emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> "IVFIndex":
        """Adopt an existing coarse partition (label column) as the
        quantizer — centroids computed once, |cells| rows collected.
        NULL-label rows are EXCLUDED (a cell-keyed index cannot
        reach them — the documented posture every IVF variant
        shares)."""
        emb = emb.where(F.col(label_col).isNotNull())
        cents = [(r[label_col], list(r["centroid"])) for r in
                 label_centroids(emb, vec_col, label_col).collect()]
        cells = (emb.select(id_col, vec_col,
                            F.col(label_col).alias("_cell"))
                 .repartition(max(len(cents), 1), "_cell")
                 .persist())
        cells.count()
        return cls(cents, cells, vec_col, id_col)

    def search(self, query_vec, k: int = 10,
               nprobe: int = 2) -> DataFrame:
        """Rank cells by centroid cosine (driver-side — the centroid
        list is k×dim floats), brute-force only the probed cells.
        Cosine ties rank the smaller cell id first — the same rule
        :func:`_rank_cells` applies on the batch side, so probe
        selection matches between single-query and batch paths and
        between a fresh and a loaded index."""
        q = [float(x) for x in query_vec]
        ranked = sorted(self.centroids,
                        key=lambda cv: (-_py_cos(cv[1], q), cv[0]))
        probes = [cid for cid, _ in ranked[:nprobe]]
        return brute_force_topk(
            self.cells.where(F.col("_cell").isin(probes)),
            q, k, self.vec_col, self.id_col)

    def unpersist(self):
        # blocking for the same hygiene-ledger reason as
        # SQIndex.unpersist
        self.cells.unpersist(blocking=True)

    def save(self, path: str):
        """Persist the index: cells as parquet PARTITIONED BY CELL —
        the 100 TB layout where search's probe filter is directory-
        level partition pruning — plus the centroid list (one tiny
        parquet)."""
        (self.cells.withColumnRenamed("_cell", "cell")
         .write.mode("overwrite").partitionBy("cell")
         .parquet(f"{path}/cells"))
        spark = self.cells.sparkSession
        cent_rows = [(cid, [float(x) for x in vec])
                     for cid, vec in self.centroids]
        from ..localdf import arrow_df
        (arrow_df(spark, cent_rows,
                  "cell long, centroid array<double>")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{path}/centroids"))

    @classmethod
    def load(cls, spark, path: str, vec_col: str = "embedding",
             id_col: str = "vec_id") -> "IVFIndex":
        """Open a saved index. Searches scan only the probed cells'
        directories (PartitionFilters on the parquet scan)."""
        cents = [(r["cell"], list(r["centroid"])) for r in
                 spark.read.parquet(f"{path}/centroids").collect()]
        cells = (spark.read.parquet(f"{path}/cells")
                 .withColumnRenamed("cell", "_cell"))
        return cls(cents, cells, vec_col, id_col)


def _sq_dist(vec_col, centroid) -> Column:
    """Row-local squared L2 distance to one (python-list) centroid."""
    return F.aggregate(
        F.zip_with(vec_col, _lit_vec(centroid),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def _sq_dist_cols(a: Column, b: Column) -> Column:
    """Pairwise squared L2 between two array COLUMNS — the same
    sequential fold as :func:`_sq_dist`, so a batch rerank scores
    bit-identically to the per-query constant-vector path before
    the 6-decimal round."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def assign_cells(emb: DataFrame, centroids: list,
                 vec_col: str = "embedding") -> Column:
    """Nearest-centroid cell id as a row-local column expression: the
    centroid list is baked into the plan (implicit broadcast — k×dim
    floats, tiny), so assignment is a pure map with no shuffle and no
    Python. For k beyond a few hundred switch to a pandas UDF; IVF
    coarse quantizers stay far below that."""
    d = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 5,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> list:
    """Lloyd's k-means as a driver-side loop of DataFrame jobs — the
    canonical Spark iterative algorithm. Per iteration: one map
    (assign, broadcast centroids) + one groupBy((cell, pos)) mean;
    only k×dim aggregated floats ever reach the driver. Deterministic
    init: the k rows with the smallest xxhash64(id) (TakeOrdered — a
    per-partition heap, not a global sort).

    Returns the centroids as a python list of lists (feed to
    assign_cells / ivf_topk_trained)."""
    init = (emb.select(
        vec_col, F.xxhash64(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h").limit(k).collect())
    cents = [list(r[vec_col]) for r in init]
    for _ in range(iters):
        cell = assign_cells(emb, cents, vec_col)
        means = (emb.select(cell.alias("cell"),
                            F.posexplode(vec_col).alias("pos", "v"))
                 .groupBy("cell", "pos").agg(F.avg("v").alias("m"))
                 .collect())
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cents = [
            [d[p] for p in sorted(d)] if (d := by_cell.get(i)) else
            cents[i]
            for i in range(len(cents))]
    return cents


def ivf_topk_trained(emb: DataFrame, query_vec, centroids: list,
                     k: int = 10, nprobe: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """IVF search against k-means cells (no pre-existing label
    needed): rank centroids on the driver, brute-force only within
    the nprobe nearest cells. With the table pre-partitioned by the
    assigned cell this is partition pruning, same as ivf_topk."""
    q = list(map(float, query_vec))

    def d2(c):
        return sum((a - b) ** 2 for a, b in zip(q, c))

    probes = sorted(range(len(centroids)),
                    key=lambda i: d2(centroids[i]))[:nprobe]
    cell = assign_cells(emb, centroids, vec_col)
    return brute_force_topk(
        emb.withColumn("_cell", cell)
        .where(F.col("_cell").isin(probes)).drop("_cell"),
        query_vec, k, vec_col, id_col)


class PQIndex:
    """Product-quantization ANN: split the vector into ``m``
    subspaces, k-means each subspace, store every vector as ``m``
    small codes (m bytes at k<=256 — a 64-dim float32 vector
    compresses 32:1). Search is asymmetric distance computation
    (ADC): one tiny query-to-centroid distance table per subspace
    (computed on the driver, m×k floats), then each row's
    approximate L2 is a sum of table lookups — row-local JVM
    expressions over the codes column, no Python, no shuffle, ending
    in a TakeOrdered. The codes frame is the only thing scanned at
    query time, so at 100 TB the working set is m bytes/vector
    instead of 4·dim.

    Deterministic end to end: kmeans init is hash-ordered and Lloyd
    updates are data-parallel means (see kmeans_fit)."""

    def __init__(self, codebooks: list, codes: DataFrame, dsub: int,
                 id_col: str = "vec_id"):
        self.codebooks = codebooks  # m lists of k sub-centroids
        self.codes = codes          # (id, code array<int>) persisted
        self.dsub = dsub
        self.id_col = id_col

    @classmethod
    def train(cls, emb: DataFrame, m: int = 8, k: int = 16,
              iters: int = 3, vec_col: str = "embedding",
              id_col: str = "vec_id") -> "PQIndex":
        dim = emb.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        codebooks = []
        for j in range(m):
            sub = emb.select(
                id_col,
                F.slice(F.col(vec_col), j * dsub + 1, dsub)
                .alias(vec_col))
            codebooks.append(kmeans_fit(sub, k, iters, vec_col, id_col))
        codes = (emb.select(F.col(id_col),
                            _pq_encode(codebooks, dsub, vec_col)
                            .alias("code"))
                 .persist())
        codes.count()  # materialize the build, not the first search
        return cls(codebooks, codes, dsub, id_col)

    def search(self, query_vec, k: int = 10) -> DataFrame:
        """Top-k by ADC-approximate squared L2 (ascending)."""
        q = [float(x) for x in query_vec]
        adc = F.lit(0.0)
        for j, cb in enumerate(self.codebooks):
            qs = q[j * self.dsub:(j + 1) * self.dsub]
            # (a-b)*(a-b), never **2: libm pow can differ from the
            # multiply by 1 ulp, and knn_join computes these same
            # tables in Catalyst (zip_with multiply, identical fold
            # order) — the documented per-query equality needs both
            # paths bit-equal before the 6-decimal round
            table = [
                sum((cv - qv) * (cv - qv) for cv, qv in zip(c, qs))
                for c in cb]
            adc = adc + F.element_at(
                F.array(*[F.lit(t) for t in table]),
                F.col("code")[j] + 1)
        return (self.codes
                .select(F.col(self.id_col),
                        (F.round(adc, 6) + F.lit(0.0)).alias("adc"))
                .orderBy(F.asc("adc"), F.asc(self.id_col))
                .limit(k))

    def search_rerank(self, emb: DataFrame, query_vec, k: int = 10,
                      shortlist: int = 200,
                      vec_col: str = "embedding") -> DataFrame:
        """The standard PQ serving pattern: ADC produces a cheap
        ``shortlist`` (codes only — m bytes/vector scanned), then
        exact L2 re-ranks just those vectors (broadcast semi-join,
        ``shortlist`` full vectors touched). Recall is bounded by
        shortlist coverage, not raw ADC precision."""
        cand = self.search(query_vec, k=shortlist).select(self.id_col)
        sub = emb.join(F.broadcast(cand), self.id_col, "semi")
        return l2_topk_exact(sub, query_vec, k, vec_col, self.id_col)

    def knn_join(self, queries: DataFrame, k: int = 10,
                 qid_col: str = "qid",
                 vec_col: str = "embedding",
                 emb: DataFrame | None = None,
                 shortlist: int = 200) -> DataFrame:
        """Batch ADC serving — PQ's analogue of
        :meth:`SQIndex.knn_join` (r11 verdict #3): top-k by
        ADC-approximate squared L2 for EVERY query row, per query
        IDENTICAL to :meth:`search` (same tables up to fold order —
        bit-equal, see search — same 6-decimal round, ties to the
        smaller id).

        PQ has no coarse cells, so a batch search IS one scan of
        the m-byte codes per query — that full scan is the codec's
        documented serving shape, and what makes it the 100 TB
        shape is what flows: each query reduces to its m×k ADC
        table (k·dim multiply-adds, computed in pure Catalyst on
        the distributed query side, ~1 KB per query), the tables
        broadcast against the codes scan, each (query, code) pair
        costs m array lookups + adds, and a per-qid window takes
        the top k. No join touches the corpus side; for probe-style
        pruning use :class:`SQIndex`/IVF — PQ is the compression
        codec, not the partitioner. A very large query side should
        be slabbed (the broadcast carries |q|·m·k doubles).

        With ``emb`` (the source vectors) the serving pattern of
        :meth:`search_rerank` applies per query: ADC keeps
        ``shortlist`` candidates, exact L2 re-ranks just those
        (|q|·shortlist pairs through two hash joins). Output:
        (qid, vec_id, adc, rank) — or (qid, vec_id, d2, rank)
        when re-ranked."""
        def _tab(j: int) -> Column:
            # a def (not a default-arg lambda): transform treats a
            # two-parameter callable as the (element, index) form
            # and would shadow the bound j with the array index
            qsub = F.slice(F.col("_qv"), j * self.dsub + 1,
                           self.dsub)
            return F.transform(
                F.array(*[F.array(*[F.lit(float(x)) for x in c])
                          for c in self.codebooks[j]]),
                lambda c: F.aggregate(
                    F.zip_with(c, qsub,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x))

        tabs = F.array(*[_tab(j) for j in range(len(self.codebooks))])
        qt = (queries.select(F.col(qid_col).alias("qid"),
                             F.col(vec_col).alias("_qv"))
              .withColumn("_tabs", tabs))
        # runtime broadcast guard (the dtw_knn_join 50M-grid
        # pattern): the ADC-table broadcast carries |q|·m·k doubles.
        # The count re-executes the query side's (possibly expensive,
        # derived) plan, so only pay for it when the warn threshold
        # is reachable by a plausibly-sized batch — with tiny
        # codebooks the cap needs millions of query rows and the
        # guard could never usefully trip
        per_q = (len(self.codebooks)
                 * len(self.codebooks[0]) * 8 if self.codebooks
                 else 0)
        if per_q and (PQ_KNN_BROADCAST_WARN_BYTES // per_q
                      <= 2_000_000):
            n_q = queries.count()
            if n_q * per_q > PQ_KNN_BROADCAST_WARN_BYTES:
                import warnings

                warnings.warn(
                    f"PQIndex.knn_join: {n_q} query rows build a "
                    f"~{n_q * per_q >> 20} MB ADC-table broadcast — "
                    "slab the query side (the broadcast must fit the "
                    "driver and every executor; the 8 GB broadcast "
                    "cap is a hard failure)", stacklevel=2)
        adc = F.round(
            F.aggregate(
                F.zip_with(F.col("_tabs"), F.col("code"),
                           lambda t, c: F.element_at(t, c + 1)),
                F.lit(0.0), lambda acc, x: acc + x),
            6) + F.lit(0.0)
        w = Window.partitionBy("qid").orderBy(
            F.asc("adc"), F.asc(self.id_col))
        ranked = (self.codes
                  .crossJoin(F.broadcast(qt.select("qid", "_tabs")))
                  .select("qid", F.col(self.id_col),
                          adc.alias("adc"))
                  .withColumn("rank", F.row_number().over(w)))
        if emb is None:
            return (ranked.where(F.col("rank") <= int(k))
                    .select("qid", self.id_col, "adc", "rank"))
        cand = (ranked.where(F.col("rank") <= int(shortlist))
                .select("qid", self.id_col))
        sub = cand.join(
            emb.select(F.col(self.id_col),
                       F.col(vec_col).alias("_cv")), self.id_col)
        d2 = F.round(_sq_dist_cols(F.col("_cv"), F.col("_qv")),
                     6) + F.lit(0.0)
        w2 = Window.partitionBy("qid").orderBy(
            F.asc("d2"), F.asc(self.id_col))
        return (sub.join(qt.select("qid", "_qv"), "qid")
                .select("qid", F.col(self.id_col), d2.alias("d2"))
                .withColumn("rank", F.row_number().over(w2))
                .where(F.col("rank") <= int(k))
                .select("qid", self.id_col, "d2", "rank"))

    def unpersist(self):
        # blocking for the same hygiene-ledger reason as
        # SQIndex.unpersist
        self.codes.unpersist(blocking=True)

    def save(self, path: str):
        """Persist the index: the codes frame (the ONLY thing a
        search scans — m bytes/vector) as parquet, plus one tiny
        meta parquet holding the flattened codebooks and dsub/
        id_col (self-describing load, same pattern as SQIndex)."""
        self.codes.write.mode("overwrite").parquet(f"{path}/codes")
        spark = self.codes.sparkSession
        from ..localdf import arrow_df

        meta = [(j, ci, [float(x) for x in c], int(self.dsub),
                 self.id_col)
                for j, cb in enumerate(self.codebooks)
                for ci, c in enumerate(cb)]
        (arrow_df(spark, meta,
                  "sub int, idx int, centroid array<double>,"
                  " dsub int, id_col string")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{path}/meta"))

    @classmethod
    def load(cls, spark, path: str,
             id_col: str | None = None) -> "PQIndex":
        """Open a saved index. The codes scan is lazy — a search
        reads m-byte codes straight off parquet; no rebuild, no
        k-means. ``codes_delta/batch=<id>`` dirs (from
        :func:`pq_index_append` / the streaming ingest sink) are
        folded in, same layout as SQIndex;
        :func:`~..streaming.corpus.compact_pq_index` keeps the dir
        count flat."""
        import os

        codebooks, dsub, saved_id = _pq_meta(spark, path)
        if id_col is None:
            id_col = saved_id
        codes = spark.read.parquet(f"{path}/codes")
        ddir = f"{path}/codes_delta"
        if os.path.isdir(ddir) and any(
                d.startswith("batch=") for d in os.listdir(ddir)):
            codes = codes.unionByName(
                spark.read.parquet(ddir).drop("batch"))
        return cls(codebooks, codes, dsub, id_col)


def _content_batch_id(df: DataFrame, id_col: str):
    """Deterministic content fingerprint of a delta batch's id
    MULTISET — the default idempotence key for index appends (a
    blind retry of the same batch maps to the same batch dir),
    shared by :func:`sq_index_append` and :func:`pq_index_append`
    so the two families' keys cannot diverge. SUM (never xor) of a
    60-bit sha2 slice per id, as DECIMAL(38,0) so duplicate ids
    COUNT — an xor fold cancels a repeated id pairwise, making
    {a, b, b} collide with {a} and silently skip the batch against
    {a}'s done marker — folded mod 2^64 with the row count
    prefixed. Returns (n_rows, batch_id); ONE aggregate, no
    collect.

    Upgrade note: the fingerprint FORMAT is part of the
    idempotence contract — changing it orphans markers written
    under the old format, so a blind retry spanning the upgrade
    would re-index its batch (duplicate rows until the compactor's
    DISTINCT folds them). When evolving this function, either keep
    recognizing old-format ids or have operators clear markers +
    run compaction at upgrade."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring(
            F.sha2(F.col(id_col).cast("string"), 256), 1, 15),
            16, 10).cast("decimal(38,0)")).alias("s")).first()
    n = int(row["n"])
    s = int(row["s"] or 0) % (2 ** 64)
    return n, "a%d-%016x" % (n, s)


def _read_batch_marker(marker: str) -> int:
    """Row count recorded in a ``_batch-<id>.done`` marker; 0 for
    legacy markers that carried no count (the pre-r11 streaming
    sinks wrote the literal 'done')."""
    with open(marker) as fh:
        txt = fh.read().strip()
    return int(txt) if txt.lstrip("-").isdigit() else 0


def _write_batch_marker(marker: str, n: int) -> None:
    """Publish a ``_batch-<id>.done`` marker ATOMICALLY: write the
    count to a temp name, fsync, then ``os.replace`` into place. A
    plain ``open(marker, 'w')`` creates the file before the count
    lands, so a crash mid-write leaves an existing-but-empty marker
    and a later retry of the (already fully written) batch
    short-circuits to 0 instead of the recorded row count. With
    rename-publish a marker either exists with a valid count or
    not at all — the same exists-means-complete contract the
    batch-dir overwrite relies on."""
    import os

    tmp = f"{marker}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(f"{int(n)}\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, marker)


def _pq_encode(codebooks: list, dsub: int, vec_col: str):
    """The PQ code column — per subspace, the index of the nearest
    sub-centroid by squared L2 (argmin via array_position, so ties
    go to the LOWEST code deterministically). ONE definition shared
    by ``PQIndex.train``, the batch append and the streaming ingest
    sink, so stored codes can never drift from the quantizer."""
    code_cols = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        d = F.array(*[_sq_dist(sub, c) for c in cb])
        code_cols.append(
            (F.array_position(d, F.array_min(d)) - 1).cast("int"))
    return F.array(*code_cols)


#: collected index-meta rows keyed by (applicationId, meta dir,
#: listing fingerprint). The meta parquet is tiny and FROZEN between
#: save()s, but every lifecycle call (assign/load/drift/append) paid
#: ~0.2-0.3 s of reader construction + a collect job to re-read it;
#: the fingerprint (file names + sizes + mtimes) invalidates the
#: memo the moment a rebuild rewrites the directory.
_META_MEMO: dict = {}


def _read_meta_rows(spark, meta_dir: str):
    import os

    try:
        fp = tuple(sorted(
            (f, st.st_size, st.st_mtime_ns)
            for f in os.listdir(meta_dir)
            for st in [os.stat(os.path.join(meta_dir, f))]))
    except OSError:
        fp = None
    key = (spark.sparkContext.applicationId, meta_dir, fp)
    if fp is not None and key in _META_MEMO:
        return _META_MEMO[key]
    rows = spark.read.parquet(meta_dir).collect()
    if fp is not None:
        if len(_META_MEMO) > 64:
            _META_MEMO.clear()
        _META_MEMO[key] = rows
    return rows


def _pq_meta(spark, path: str):
    """(codebooks, dsub, id_col) off a saved PQIndex's meta parquet
    — the frozen quantizer every lifecycle helper encodes with."""
    rows = _read_meta_rows(spark, f"{path}/meta")
    m = max(r["sub"] for r in rows) + 1
    codebooks = [[] for _ in range(m)]
    for r in sorted(rows, key=lambda r: (r["sub"], r["idx"])):
        codebooks[r["sub"]].append(list(r["centroid"]))
    return codebooks, int(rows[0]["dsub"]), rows[0]["id_col"]


def pq_index_append(spark, path: str, new_emb: DataFrame,
                    vec_col: str = "embedding",
                    batch_id: str | int | None = None,
                    assume_unique_ids: bool = False) -> int:
    """Append a batch of new vectors to a SAVED :class:`PQIndex`
    without retraining: the delta is encoded with the index's
    FROZEN codebooks (:func:`_pq_encode` — the one definition
    ``train`` uses) and lands as a batch-stamped delta
    ``codes_delta/batch=<id>`` written with OVERWRITE plus a
    ``_batch-<id>.done`` marker — exactly
    :func:`sq_index_append`'s layout and exactly-once-by-idempotence
    contract (shared :func:`_content_batch_id` default batch id,
    blind retries converge, applied batches are no-ops returning
    the recorded count). ``PQIndex.load`` folds the deltas;
    :func:`~..streaming.corpus.compact_pq_index` maintains them.
    The quantizer stays frozen — the standard serving tradeoff;
    when :func:`pq_index_drift` says retrain, rotate via
    :func:`pq_index_rebuild` (which needs the SOURCE vectors: PQ
    codes are lossy, an index cannot retrain itself — the one
    lifecycle difference from SQIndex, which keeps full vectors)."""
    import os

    if batch_id is not None:
        marker = os.path.join(path, f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return _read_batch_marker(marker)
    codebooks, dsub, id_col = _pq_meta(spark, path)
    encoded = new_emb.select(
        F.col(id_col),
        _pq_encode(codebooks, dsub, vec_col).alias("code"))
    if not assume_unique_ids:
        # ONE row per id: ids are the index key, and duplicate-id
        # rows in a batch collapse deterministically (smallest code
        # array wins) — the same one-row-per-id posture
        # _sq_assign's nearest-cell window gives sq_index_append.
        # assume_unique_ids=True skips the window shuffle for
        # callers whose upstream already keys batches uniquely
        # (e.g. an exactly-once stream) — the hot ingest path then
        # pays encode + one write, nothing wider
        wdup = Window.partitionBy(id_col).orderBy("code")
        encoded = (encoded
                   .withColumn("_rn", F.row_number().over(wdup))
                   .where(F.col("_rn") == 1).drop("_rn"))
    encoded = encoded.persist()
    try:
        if batch_id is None:
            n, batch_id = _content_batch_id(encoded, id_col)
        else:
            n = encoded.count()
        marker = os.path.join(path, f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return _read_batch_marker(marker)
        if n:
            (encoded.write.mode("overwrite")
             .parquet(os.path.join(path, "codes_delta",
                                   f"batch={batch_id}")))
        _write_batch_marker(marker, n)
    finally:
        encoded.unpersist(blocking=True)
    return n


def pq_index_drift(spark, path: str, new_emb: DataFrame,
                   vec_col: str = "embedding") -> DataFrame:
    """Quantizer drift report for a frozen-codebook PQ index — the
    "when to retrain" signal :func:`pq_index_append` defers to.
    Per (subspace, code):

    - ``n_base`` / ``n_new``: stored codes vs the codes the frozen
      quantizer would assign the delta, and ``new_share_ppm``
      (exact integer ppm of the delta within the subspace) — a code
      soaking up far more than its base share means the codebook no
      longer covers the data (rising ADC error on exactly the new
      rows);
    - ``mean_qerr_new``: the delta members' mean squared-L2
      distance to their ASSIGNED sub-centroid (order-free
      DECIMAL(38,18) sums, rounded once) — the quantization error
      new data actually pays. The base-side twin is deliberately
      absent: the index stores CODES only (lossy by design), so
      base reconstruction error is not recoverable from the index —
      track the report over successive deltas instead.

    One encode pass over the delta + two groupBys over m×k keys;
    the assignment is the SAME :func:`_pq_encode` rule the append/
    ingest paths use, so the report describes exactly what an
    append would do. Output: (sub, code, n_base, n_new,
    new_share_ppm, mean_qerr_new) — one row per codebook entry."""
    from ..functions.stable import stable_dsum
    from ..localdf import arrow_df

    codebooks, dsub, id_col = _pq_meta(spark, path)
    base = PQIndex.load(spark, path).codes
    bs = (base.select(F.posexplode("code").alias("sub", "code"))
          .groupBy("sub", "code")
          .agg(F.count(F.lit(1)).alias("n_base")))

    # per-sub struct of (assigned code, its squared distance) —
    # one expression family, no second argmin definition
    subs = []
    for j, cb in enumerate(codebooks):
        sv = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        d = F.array(*[_sq_dist(sv, c) for c in cb])
        subs.append(F.struct(
            F.lit(j).alias("sub"),
            (F.array_position(d, F.array_min(d)) - 1).cast("int")
            .alias("code"),
            F.array_min(d).alias("qerr")))
    exploded = (new_emb.select(
        F.explode(F.array(*subs)).alias("s"))
        .select("s.sub", "s.code", "s.qerr"))
    ns = (exploded.groupBy("sub", "code")
          .agg(F.count(F.lit(1)).alias("n_new"),
               F.round(stable_dsum(F.col("qerr"))
                       / F.count(F.lit(1)), 6)
               .alias("mean_qerr_new")))
    tot = ns.groupBy("sub").agg(F.sum("n_new").alias("_t"))

    grid = arrow_df(
        spark,
        [(j, ci) for j, cb in enumerate(codebooks)
         for ci in range(len(cb))],
        "sub int, code int")
    return (grid.join(bs, ["sub", "code"], "left")
            .join(ns, ["sub", "code"], "left")
            .join(tot, "sub", "left")
            .select(
                F.col("sub").cast("long").alias("sub"),
                F.col("code").cast("long").alias("code"),
                F.coalesce("n_base", F.lit(0)).cast("long")
                .alias("n_base"),
                F.coalesce("n_new", F.lit(0)).cast("long")
                .alias("n_new"),
                F.expr("coalesce(n_new, 0) * 1000000"
                       " div greatest(coalesce(_t, 0), 1)")
                .alias("new_share_ppm"),
                (F.col("mean_qerr_new") + F.lit(0.0))
                .alias("mean_qerr_new")))


def pq_index_rebuild(spark, path: str, new_path: str,
                     emb: DataFrame, m: int | None = None,
                     k: int | None = None, iters: int = 3,
                     vec_col: str = "embedding",
                     id_col: str | None = None) -> "PQIndex":
    """Retrain a PQ index as a NEW snapshot at ``new_path`` —
    the remediation :func:`pq_index_drift` triggers, as snapshot
    ROTATION (readers of the old index are never torn; cutover is
    one path swap), mirroring :func:`sq_index_rebuild`. The one
    honest difference: ``emb`` (the source vectors) is REQUIRED.
    PQ stores m one-byte codes per vector — the 32:1 compression is
    the point — so the index cannot reconstruct its own training
    data; rebuild re-encodes the corpus the caller still owns.
    ``m``/``k`` default to the old index's geometry. Returns the
    new (persisted) index."""
    codebooks, dsub, old_id = _pq_meta(spark, path)
    new = PQIndex.train(
        emb, m=m or len(codebooks),
        k=k or len(codebooks[0]), iters=iters,
        vec_col=vec_col, id_col=id_col or old_id)
    new.save(new_path)
    return new


def centroid_shift(old: DataFrame, new: DataFrame,
                   vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Per-label centroid DRIFT between two corpus snapshots — the
    embedding-space retrain signal for a labeled corpus: per
    label, both snapshots' mean vectors reduced to the INTEGER
    sufficient statistics of their cosine. Each centroid component
    is :func:`label_centroid_dims`' 6-decimal contract scaled to a
    micro int, so dot/na/nb are exact integer sums over dims
    (hashable cross-engine — no float sum-order ambiguity);
    ``cos = dot/sqrt(na·nb)`` is the caller's one float division.
    A label present in only one snapshot carries the other side as
    NULLs — appeared/vanished classes are half the point of a
    drift report, so they surface instead of dropping.

    Two long-form centroid aggregates (|labels|·dims rows through
    the shuffle — the scalable layout label_centroid_dims
    documents) + one full join on (label, dim) + one per-label
    sum. Output: (label, n_old, n_new, dot_scaled, na_scaled,
    nb_scaled)."""

    def micro(c: Column) -> Column:
        return F.floor(c * F.lit(1_000_000.0)
                       + F.lit(0.5)).cast("long")

    a = label_centroid_dims(old, vec_col, label_col).select(
        "label", "dim", F.col("n_vectors").alias("n_old"),
        micro(F.col("centroid")).alias("_ca"))
    b = label_centroid_dims(new, vec_col, label_col).select(
        "label", "dim", F.col("n_vectors").alias("n_new"),
        micro(F.col("centroid")).alias("_cb"))
    return (a.join(b, ["label", "dim"], "full")
            .groupBy("label")
            .agg(F.max("n_old").alias("n_old"),
                 F.max("n_new").alias("n_new"),
                 F.sum(F.col("_ca") * F.col("_cb"))
                 .alias("dot_scaled"),
                 F.sum(F.col("_ca") * F.col("_ca"))
                 .alias("na_scaled"),
                 F.sum(F.col("_cb") * F.col("_cb"))
                 .alias("nb_scaled")))


def dim_truncation_recall(emb: DataFrame, query_vec,
                          dims=(8, 16, 32), k: int = 10,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Matryoshka-style truncation audit: for each prefix length
    ``d`` in ``dims``, the top-k by cosine over the FIRST d
    coordinates, scored against the full-dimension exact top-k —
    the measurement a serving team runs before cutting index cost
    by storing truncated embeddings (MRL, Kusupati et al. 2022:
    prefixes of a matryoshka-trained embedding are usable
    embeddings; this audit tells you which prefix holds your
    recall floor on YOUR corpus).

    Spark shape: ONE corpus scan emits (id, dim, cos) via a
    row-local explode over the requested prefixes (each cosine is
    a sequential fold over a slice — no UDF), one window ranks all
    prefixes at once (single shuffle partitioned by dim), and the
    full-dim top-k joins back as the reference set. Audit-sized by
    design: run it on a bounded sample, then pick the serving dim.

    Output: (dim, k, hits) — integers (hits of k recovered by the
    truncated ranking; recall@k = hits/k is the caller's division,
    so the contract hashes cross-engine). Ranking rounds the
    cosine to 6 decimals first and breaks ties on the smaller id —
    the family's determinism rule."""
    q = [float(x) for x in query_vec]
    full_d = len(q)
    if full_d in {int(d) for d in dims}:
        # the drop must be loud: a caller computing recall per
        # requested dim would otherwise get a shorter frame than
        # asked for (full-dim recall is trivially k/k — request
        # only truncations)
        import warnings

        warnings.warn(
            f"dim_truncation_recall: requested dim {full_d} equals "
            "the full dimension and is excluded from the audit "
            "(its recall is k/k by definition)", stacklevel=2)
    audit = sorted({int(d) for d in dims} - {full_d})
    if any(d < 1 or d > full_d for d in audit):
        raise ValueError(f"dims must be within [1, {full_d}]")

    def cos_d(d: int) -> Column:
        sub = F.slice(F.col(vec_col), 1, d)
        qd = q[:d]
        nq = sum(x * x for x in qd)
        if nq == 0.0:
            return F.lit(0.0)
        dd = dot(sub, F.array(*[F.lit(x) for x in qd]))
        na = dot(sub, sub)
        return F.round(
            F.when(na == 0, F.lit(0.0))
            .otherwise(dd / (F.sqrt(na) * F.sqrt(F.lit(nq)))), 6)

    scored = emb.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("dim"),
                     cos_d(d).alias("cos"))
            for d in audit + [full_d]])).alias("s")) \
        .select(id_col, "s.dim", "s.cos")
    w = Window.partitionBy("dim").orderBy(
        F.desc("cos"), F.asc(id_col))
    top = (scored.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= int(k))
           .select("dim", id_col))
    full_ids = top.where(F.col("dim") == full_d).select(id_col)
    hits = (top.where(F.col("dim") != full_d)
            .join(F.broadcast(full_ids), id_col, "semi")
            .groupBy("dim")
            .agg(F.count(F.lit(1)).alias("hits")))
    from ..localdf import arrow_df

    dims_df = arrow_df(emb.sparkSession, [(d,) for d in audit],
                       "dim int")
    return (dims_df.join(hits, "dim", "left")
            .select(F.col("dim").cast("long").alias("dim"),
                    F.lit(int(k)).cast("long").alias("k"),
                    F.coalesce("hits", F.lit(0)).cast("long")
                    .alias("hits")))


def l2_topk_exact(emb: DataFrame, query_vec, k: int = 10,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Exact squared-L2 top-k (TakeOrdered) — the recall baseline
    for the PQ index."""
    d = _sq_dist(F.col(vec_col), [float(x) for x in query_vec])
    return (emb.select(F.col(id_col),
                       (F.round(d, 6) + F.lit(0.0)).alias("d2"))
            .orderBy(F.asc("d2"), F.asc(id_col))
            .limit(k))


def label_centroid_dims(emb: DataFrame, vec_col: str = "embedding",
                        label_col: str = "label") -> DataFrame:
    """Per-label embedding centroids in LONG form: one row per
    (label, dimension) with the mean coordinate — the mean-pooling
    pass behind cluster summaries, class prototypes, and drift
    monitors, in the layout that scales to arbitrary vector width
    (a wide array column would force whole-vector aggregation
    buffers; long form partial-aggregates per dimension map-side).

    One posexplode (row-local) + one groupBy carrying
    |labels|×dims rows through the shuffle. Output: (label, dim,
    n_vectors, centroid), 6 decimals."""
    return (emb.select(F.col(label_col).alias("label"),
                       F.posexplode(F.col(vec_col))
                       .alias("dim", "x"))
            .groupBy("label", F.col("dim").cast("long").alias("dim"))
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 (F.round(stable_dsum(F.col("x"))
                          / F.count(F.lit(1)), 6) + F.lit(0.0))
                 .alias("centroid")))


def standardize_embeddings(emb: DataFrame,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """Per-dimension z-scoring of an embedding column, reassembled
    in dimension order — the whitening pass before cosine/k-means
    when dimensions carry wildly different scales (one hot dimension
    otherwise dominates every distance).

    Long-form shape like :func:`label_centroid_dims`: posexplode →
    one dims-sized stats aggregate (broadcast back) → row-local
    z-score → one groupBy(id) reassembly via a sorted
    (dim, value) collect. The only corpus-sized shuffles key on the
    vector id, so the pass scales with rows, not with vector width.
    Zero-variance dimensions standardize to NULL (try_divide), kept
    in place so the vector keeps its arity. Output: (id, vector) —
    array<double>, 6 decimals per element."""
    dims = emb.select(F.col(id_col),
                      F.posexplode(F.col(vec_col)).alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.avg("x").alias("_mu"),
        F.stddev_samp("x").alias("_sd"))
    z = F.round(F.try_divide(F.col("x") - F.col("_mu"),
                             F.col("_sd")), 6) + F.lit(0.0)
    return (dims.join(F.broadcast(stats), "dim")
            .select(F.col(id_col), "dim", z.alias("z"))
            .groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "z"))),
                lambda s: s["z"]).alias("vector")))


def ann_recall_curve(emb: DataFrame, k: int = 10,
                     nprobes: tuple = (1, 2, 4, 10),
                     n_queries: int = 20,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     label_col: str = "label") -> DataFrame:
    """ANN quality evaluation: recall@k of IVF cell-probing against
    exact search, per probe width — the curve that decides nprobe on
    a real retrieval deployment. The first ``n_queries`` vectors are
    the query set, the rest the corpus.

    Deterministic end-to-end so a SQL oracle can replay it exactly:
    centroids are exact decimal per-dimension means (order-free),
    every cosine folds its per-dimension products through
    ``stable_dsum`` (exact DECIMAL accumulation, no fold-order
    bits), scores quantize to micro-units at birth, ties break on
    ids, and the recall ratio is exact integer ppm. With nprobe =
    |cells| the candidate set IS the corpus, so that row's recall is
    exactly 1,000,000 by construction — a built-in self-check.

    Scale shape: the exact pass is one corpus×queries scoring join
    (queries broadcast — the small side by definition); each probe
    width scores only its pruned candidate set (the IVF win being
    measured); per-dimension explodes shuffle |pairs|·d product
    rows with map-side decimal partial sums. Output: (nprobe,
    n_queries, n_hits, recall_ppm)."""
    from ..functions.stable import (int_div, int_ppm,
                                    scaled_term, stable_dsum)

    q = (emb.where(F.col(id_col) < n_queries)
         .select(F.col(id_col).alias("qid"),
                 F.col(vec_col).alias("qe")))
    corpus = (emb.where(F.col(id_col) >= n_queries)
              .select(id_col, label_col, vec_col))

    def pico_fold(arr):
        # exact scaled-long left fold of an array<double>: each
        # element quantizes to the 1e-12 grid (floor(|x|·1e12+0.5)·
        # sign — every step an exactly-specified IEEE op) and the
        # long sum is exact and associative, so the oracle's
        # unnest + SUM of the same per-element expression is
        # byte-identical. Stays ROW-LOCAL in whole-stage codegen —
        # no 64×-row explode, no hash-aggregate shuffle per pair
        # (that shape cost 5.9 s at sf0.1; long folds ~1 s). The
        # 1e-12 grid is 10⁶× finer than the 1e-6 score contract.
        def term(v):
            s = v * F.lit(1e12)
            return (F.when(v >= 0, F.floor(s + F.lit(0.5)))
                    .otherwise(-F.floor(-s + F.lit(0.5))))
        return F.aggregate(
            arr, F.lit(0).cast("long"),
            lambda acc, v: acc + term(v.cast("double"))
            .cast("long"))

    _P = F.lit(1e12)

    def sq_norm(col):
        return pico_fold(F.transform(
            col, lambda x: x.cast("double") * x.cast("double")))

    def topk_pairs(pairs, extra=()):
        """(..., qid, qe, nq, vec_id, vec, nc) → exact top-k per
        (*extra, qid) by quantized cosine, id tiebreak. The squared
        norms nq/nc arrive precomputed PER VECTOR (lambda folds are
        interpreted, not codegen'd — folding them per pair was 3×
        the per-pair cost for values that only depend on one side).
        An Arrow/numpy kernel for the per-pair dot was tried and
        REVERTED: shipping both embedding arrays per pair through
        Arrow cost more than the interpreted JVM fold (3.7 s vs
        2.5 s at sf0.1) — the fold's input stays columnar."""
        prod = F.zip_with("qe", vec_col, lambda a, b:
                          a.cast("double") * b.cast("double"))
        s = pairs.select(*extra, "qid", id_col, "nq", "nc",
                         pico_fold(prod).alias("d"))
        score = scaled_term(F.try_divide(
            F.col("d") / _P,
            F.sqrt(F.col("nq") / _P) * F.sqrt(F.col("nc") / _P)))
        w = Window.partitionBy(*extra, "qid").orderBy(
            F.desc("score_micro"), F.asc(id_col))
        return (s.select(*extra, "qid", id_col,
                         score.alias("score_micro"))
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))

    # coarse quantizer: exact decimal per-dim centroid means
    cent = (corpus.select(label_col,
                          F.posexplode(vec_col).alias("dim", "v"))
            .groupBy(label_col, "dim")
            .agg((stable_dsum(F.col("v"))
                  / F.count(F.lit(1))).alias("m")))
    qd = q.select("qid", F.posexplode("qe").alias("dim", "qv"))
    qc = (qd.join(cent, "dim")
          .groupBy("qid", label_col)
          .agg(stable_dsum(F.col("qv").cast("double")
                           * F.col("m")).alias("d"),
               stable_dsum(F.col("qv").cast("double")
                           * F.col("qv")).alias("nq"),
               stable_dsum(F.col("m") * F.col("m")).alias("nc")))
    cscore = scaled_term(F.try_divide(
        F.col("d"), F.sqrt("nq") * F.sqrt("nc")))
    wc = Window.partitionBy("qid").orderBy(
        F.desc("cs"), F.asc(label_col))
    ranked = (qc.select("qid", label_col, cscore.alias("cs"))
              .withColumn("crank", F.row_number().over(wc)))
    nq_k = q.select((F.count(F.lit(1)) * k).alias("den"))
    # the probe width is a DATA dimension, not a loop, and the exact
    # reference set is just the SENTINEL width that keeps every cell
    # (probing all cells ≡ exhaustive search): ONE scoring pass
    # partitioned by (nprobe, qid) replaces |nprobes|+1 separate
    # jobs — same total candidate rows, ~5× fewer stages (5.9 s →
    # ~1.5 s at sf0.1)
    _ALL = 1 << 30
    spark = emb.sparkSession
    from ..localdf import arrow_df
    npdf = arrow_df(
        spark, [(int(p),) for p in nprobes] + [(_ALL,)],
        "nprobe int")
    probes = (ranked.crossJoin(F.broadcast(npdf))
              .where(F.col("crank") <= F.col("nprobe"))
              .select("nprobe", "qid", label_col))
    cand = (corpus.withColumn("nc", sq_norm(F.col(vec_col)))
            .join(F.broadcast(probes), label_col)
            .join(F.broadcast(
                q.withColumn("nq", sq_norm(F.col("qe")))), "qid"))
    appr = topk_pairs(cand, extra=("nprobe",))
    exact = appr.where(F.col("nprobe") == _ALL) \
        .select("qid", id_col)
    hits = (appr.where(F.col("nprobe") != _ALL)
            .join(exact, ["qid", id_col], "semi")
            .groupBy("nprobe")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return (npdf.where(F.col("nprobe") != _ALL)
            .join(hits, "nprobe", "left")
            .crossJoin(F.broadcast(nq_k))
            .select("nprobe",
                    int_div(F.col("den"), F.lit(k))
                    .alias("n_queries"),
                    F.coalesce(F.col("n_hits"), F.lit(0))
                    .cast("long").alias("n_hits"),
                    int_ppm(F.coalesce(F.col("n_hits"), F.lit(0)),
                            F.col("den")).alias("recall_ppm")))


# ------------------------------------------------ scalar quantization

#: int8 symmetric range: codes in [-127, 127]
SQ_LIM = 127


def sq_scale(emb: DataFrame, vec_col: str = "embedding") -> float:
    """Global symmetric quantization scale: the corpus max |x|.
    One tiny aggregate (array_max folds inside the scan, the agg
    returns a single double) — at 100 TB this is a full scan but a
    bytes-bound one with a scalar result; production pins the scale
    once per corpus snapshot and reuses it for every query."""
    smax = emb.select(
        F.max(F.array_max(F.transform(
            vec_col, lambda x: F.abs(x.cast("double")))))
        .alias("s")).first()["s"]
    return float(smax) if smax else 1.0


def _sq_code(x, scale: float):
    # floor(x·127/scale + 0.5): round-half-up as pure double
    # arithmetic — the same expression evaluates bit-identically in
    # Spark, DuckDB, and CPython (IEEE doubles, same op order), so
    # quantized codes are cross-engine hashable. F.round would be
    # half-even in some engines and half-away in others.
    return F.floor(x.cast("double") * F.lit(float(SQ_LIM))
                   / F.lit(scale) + F.lit(0.5)).cast("int")


def scalar_quantize(emb: DataFrame, scale: float,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """int8-range codes for every vector: (id, qvec array<int>).
    4× smaller than float32 at rest and in shuffle, and candidate
    scoring becomes integer multiply-adds. Quantization is row-local
    (a pure projection — no shuffle); persist the result as the
    serving copy of the corpus."""
    q = F.transform(F.col(vec_col), lambda x: _sq_code(x, scale))
    return emb.select(F.col(id_col), q.alias("qvec"))


def quantize_query(query_vec, scale: float) -> list:
    """The SAME rounding as :func:`_sq_code`, driver-side, with
    codes clamped to ±127 (a query may exceed the corpus max)."""
    import math

    out = []
    for x in query_vec:
        c = int(math.floor(float(x) * float(SQ_LIM) / scale + 0.5))
        out.append(max(-SQ_LIM, min(SQ_LIM, c)))
    return out


def int_dot(a, b):
    """Exact integer dot product of two int-array columns — stays
    in whole-stage codegen (zip_with + aggregate over longs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def sq_coarse_scores(qdf: DataFrame, qcodes: list,
                     id_col: str = "vec_id") -> DataFrame:
    """Integer coarse scores of every quantized corpus vector
    against one quantized query: (id, iscore long). With symmetric
    per-corpus scaling, iscore·(scale/127)² ≈ the float dot product;
    ranking by iscore IS the coarse ranking. Bounded by
    |dim|·127² per element — exact int64, exact in SQL too."""
    qq = F.array(*[F.lit(int(c)) for c in qcodes])
    return qdf.select(F.col(id_col),
                      int_dot(F.col("qvec"), qq).alias("iscore"))


def sq_topk(emb: DataFrame, query_vec, k: int = 10,
            rerank: int = 4, scale: float | None = None,
            vec_col: str = "embedding",
            id_col: str = "vec_id") -> DataFrame:
    """Quantized ANN search with exact rescoring: integer coarse
    scores over the int8 codes pick k·rerank candidates (TakeOrdered
    — per-partition heap, no global sort), then ONLY those rows are
    rescored with full-precision cosine. The scan that touches every
    row reads 4×-smaller codes and does integer math; float work is
    k·rerank rows. Same output contract as brute_force_topk."""
    if scale is None:
        scale = sq_scale(emb, vec_col)
    qdf = scalar_quantize(emb, scale, vec_col, id_col)
    qcodes = quantize_query(query_vec, scale)
    cand = (sq_coarse_scores(qdf, qcodes, id_col)
            .orderBy(F.col("iscore").desc(), F.col(id_col))
            .limit(k * rerank)
            .select(id_col))
    kept = emb.join(F.broadcast(cand), id_col)
    return brute_force_topk(kept, query_vec, k, vec_col, id_col)


def ivf_sq_topk(emb: DataFrame, query_vec, k: int = 10,
                nprobe: int = 3, rerank: int = 4,
                vec_col: str = "embedding",
                id_col: str = "vec_id",
                label_col: str = "label",
                scale: float | None = None,
                centroids: list | None = None) -> DataFrame:
    """IVF + int8 composition (the FAISS IVF-SQ8 serving shape):
    rank coarse cells by centroid cosine on the driver, then inside
    ONLY the probed cells run the int8 coarse scan
    (:func:`sq_coarse_scores` — exact int64 multiply-adds over
    4×-smaller codes) and rescore the top k·rerank candidates at
    full precision. Three multiplicative savings stack: partition
    pruning (nprobe/|cells| of the corpus), code width (¼ the
    bytes), and float work bounded at k·rerank rows. Same output
    contract as brute_force_topk; at 100 TB the cells are parquet
    partitions and the probe filter is directory pruning.

    Serving shape: pass a pinned ``scale`` (one per corpus
    snapshot) and precomputed ``centroids`` — otherwise each call
    pays one full-corpus max scan and one centroid aggregate before
    pruning, which defeats the point of an index. The coarse +
    rescore body IS :func:`sq_topk` applied to the probed cells, so
    the two paths cannot drift. NULL-label rows are EXCLUDED before
    the default scale/centroids are computed (not just before the
    probe filter) — :meth:`SQIndex.from_labels` pins its scale over
    the labeled rows only, so an unfiltered default scale here
    could quantize differently and break the documented equality
    with the index-served path."""
    emb = emb.where(F.col(label_col).isNotNull())
    q = [float(x) for x in query_vec]
    if centroids is None:
        centroids = [(r[label_col], list(r["centroid"])) for r in
                     label_centroids(emb, vec_col, label_col)
                     .collect()]
    ranked = sorted(centroids,
                    key=lambda cv: (-_py_cos(cv[1], q), cv[0]))
    probes = [cid for cid, _ in ranked[:nprobe]]
    sub = emb.where(F.col(label_col).isin(probes))
    if scale is None:
        scale = sq_scale(emb, vec_col)
    return sq_topk(sub, q, k, rerank, scale, vec_col, id_col)


class SQIndex:
    """Build-once / search-many IVF-SQ8 index — the persisted
    serving shape :func:`ivf_sq_topk`'s docstring prescribes.
    Build pins the quantization ``scale`` and the centroid list
    ONCE per corpus snapshot and materializes every vector's int8
    codes alongside the full-precision copy, repartitioned by
    coarse cell. Each search ranks the (driver-held, tiny)
    centroid list, scans ONLY the probed cells with exact-int64
    coarse scores over the 4×-smaller codes, and rescores the top
    k·rerank candidates at full precision from the same cells
    frame — no per-call corpus max scan, no per-call centroid
    aggregate. ``save``/``load`` lay the cells out as parquet
    ``partitionBy(cell)``, so at 100 TB the probe filter is
    directory-level partition pruning (plan-asserted in pytest).
    The search body reuses :func:`sq_coarse_scores` +
    :func:`brute_force_topk`, so index serving and the per-call
    :func:`ivf_sq_topk` path cannot drift."""

    def __init__(self, centroids: list, scale: float,
                 cells: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id"):
        #: list of (cell_id, centroid_vector); tiny, driver-held
        self.centroids = centroids
        #: pinned symmetric quantization scale (corpus max |x|)
        self.scale = float(scale)
        #: (id, vec, qvec, _cell), partitioned by _cell
        self.cells = cells
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def _build(cls, emb: DataFrame, centroids: list, cell: Column,
               scale, vec_col: str, id_col: str) -> "SQIndex":
        if scale is None:
            scale = sq_scale(emb, vec_col)
        qv = F.transform(F.col(vec_col),
                         lambda x: _sq_code(x, scale))
        cells = (emb.withColumn("qvec", qv)
                 .withColumn("_cell", cell)
                 .select(id_col, vec_col, "qvec", "_cell")
                 .repartition(max(len(centroids), 1), "_cell")
                 .persist())
        cells.count()  # materialize the build now, not on search
        return cls(centroids, scale, cells, vec_col, id_col)

    @classmethod
    def train(cls, emb: DataFrame, k: int = 8, iters: int = 5,
              vec_col: str = "embedding", id_col: str = "vec_id",
              scale: float | None = None) -> "SQIndex":
        """k-means quantizer + cell-partitioned int8 corpus."""
        cents = kmeans_fit(emb, k, iters, vec_col, id_col)
        return cls._build(emb, list(enumerate(cents)),
                          assign_cells(emb, cents, vec_col),
                          scale, vec_col, id_col)

    @classmethod
    def from_labels(cls, emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    scale: float | None = None) -> "SQIndex":
        """Adopt an existing coarse partition (label column) as the
        quantizer — centroids computed once, |cells| rows
        collected. NULL-label rows are EXCLUDED (a cell-keyed index
        cannot reach them — the documented posture every IVF
        variant shares; save() would otherwise crash materializing
        int(None) cell ids)."""
        emb = emb.where(F.col(label_col).isNotNull())
        cents = [(r[label_col], list(r["centroid"])) for r in
                 label_centroids(emb, vec_col, label_col).collect()]
        return cls._build(emb, cents, F.col(label_col),
                          scale, vec_col, id_col)

    def search(self, query_vec, k: int = 10, nprobe: int = 3,
               rerank: int = 4) -> DataFrame:
        """IVF-SQ8 probe: centroid ranking is driver-side, the int8
        coarse scan touches only the probed cells, float work is
        k·rerank rows. Same output contract as brute_force_topk —
        and as :func:`ivf_sq_topk` called with this index's pinned
        scale/centroids (the equality the oracle entry pins).
        Cosine ties rank the smaller cell id first — the same rule
        :func:`_rank_cells` applies on the batch side, so probe
        selection matches between single-query and batch paths and
        between a fresh and a loaded index (the collect()/load
        order of the centroid list never decides a probe)."""
        q = [float(x) for x in query_vec]
        ranked = sorted(self.centroids,
                        key=lambda cv: (-_py_cos(cv[1], q), cv[0]))
        probes = [cid for cid, _ in ranked[:nprobe]]
        sub = self.cells.where(F.col("_cell").isin(probes))
        qcodes = quantize_query(q, self.scale)
        cand = (sq_coarse_scores(
                    sub.select(self.id_col, "qvec"), qcodes,
                    self.id_col)
                .orderBy(F.col("iscore").desc(), F.col(self.id_col))
                .limit(k * rerank)
                .select(self.id_col))
        kept = sub.join(F.broadcast(cand), self.id_col)
        return brute_force_topk(kept, q, k, self.vec_col,
                                self.id_col)

    def knn_join(self, queries: DataFrame, k: int = 10,
                 nprobe: int = 2, rerank: int = 4,
                 qid_col: str = "qid",
                 vec_col: str = "embedding") -> DataFrame:
        """Batch ANN against the index: every query row's top-k via
        its nprobe nearest cells, int8 coarse cut at k·rerank, full
        precision rescore — :func:`ivf_sq_knn_join` served from the
        prebuilt cells (codes already materialized, probe filter =
        partition pruning on a loaded index). Both sides stay
        distributed. Same body (:func:`_sq_knn_body`), so the two
        paths cannot drift."""
        from ..localdf import arrow_df

        cent = arrow_df(
            self.cells.sparkSession,
            [(int(c), [float(x) for x in v])
             for c, v in self.centroids],
            "_cell long, _centroid array<double>")
        corpus = self.cells.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).alias("_cv"),
            F.col("qvec").alias("_cq"), "_cell")
        return _sq_knn_body(
            corpus,
            queries.select(F.col(qid_col).alias(qid_col),
                           F.col(vec_col).alias("_qv")),
            cent, self.scale, k, nprobe, rerank, qid_col)

    def unpersist(self):
        # blocking: the non-blocking default frees the cache
        # asynchronously, so a caller's very next cached-RDD
        # snapshot (the bench hygiene ledger) samples it one query
        # late
        self.cells.unpersist(blocking=True)

    def save(self, path: str):
        """Persist: cells (id, vec, int8 codes) as parquet
        PARTITIONED BY CELL + one tiny meta parquet holding the
        centroid list and the pinned scale."""
        (self.cells.withColumnRenamed("_cell", "cell")
         .write.mode("overwrite").partitionBy("cell")
         .parquet(f"{path}/cells"))
        spark = self.cells.sparkSession
        from ..localdf import arrow_df

        meta = [(int(cid), [float(x) for x in vec], self.scale,
                 self.vec_col, self.id_col)
                for cid, vec in self.centroids]
        (arrow_df(spark, meta,
                  "cell long, centroid array<double>, scale double,"
                  " vec_col string, id_col string")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{path}/meta"))

    @classmethod
    def load(cls, spark, path: str,
             vec_col: str | None = None,
             id_col: str | None = None) -> "SQIndex":
        """Open a saved index. Searches scan only the probed cells'
        directories (PartitionFilters on the parquet scan — the
        cell filter pushes through the union into both the base
        scan and any streaming-ingest delta scans under
        ``cells_delta/batch=<id>/cell=<c>``). Column names are read
        from the saved meta (``save`` is self-describing); passing
        them here overrides."""
        import os

        rows = _read_meta_rows(spark, f"{path}/meta")
        if vec_col is None:
            vec_col = (rows[0]["vec_col"]
                       if "vec_col" in rows[0] else "embedding")
        if id_col is None:
            id_col = (rows[0]["id_col"]
                      if "id_col" in rows[0] else "vec_id")
        cents = [(r["cell"], list(r["centroid"])) for r in rows]
        cells = (spark.read.parquet(f"{path}/cells")
                 .withColumnRenamed("cell", "_cell"))
        ddir = f"{path}/cells_delta"
        if os.path.isdir(ddir) and any(
                d.startswith("batch=") for d in os.listdir(ddir)):
            delta = (spark.read.parquet(ddir).drop("batch")
                     .withColumnRenamed("cell", "_cell"))
            cells = cells.unionByName(delta)
        return cls(cents, rows[0]["scale"], cells, vec_col, id_col)


def _rank_cells(df: DataFrame, cent: DataFrame, vec_alias: str,
                part_col: str, n_best: int) -> DataFrame:
    """Keep each row's ``n_best`` nearest coarse cells by
    zero-norm-guarded centroid cosine, ties to the smaller cell id
    — THE cell-ranking rule, written once and shared by the
    append/ingest assignment (``n_best=1``), the float batch join,
    and the int8 batch join, so the rule cannot drift. ``cent`` is
    the broadcast-tiny (_cell, _centroid) frame; the output keeps
    ``df``'s columns plus ``_cell``."""
    d = dot(F.col(vec_alias), F.col("_centroid"))
    na = dot(F.col(vec_alias), F.col(vec_alias))
    nb = dot(F.col("_centroid"), F.col("_centroid"))
    ccos = F.when((na == 0) | (nb == 0), F.lit(0.0)) \
        .otherwise(d / (F.sqrt(na) * F.sqrt(nb)))
    w = Window.partitionBy(part_col).orderBy(
        F.desc("_cc"), F.asc("_cell"))
    return (df.crossJoin(F.broadcast(cent))
            .withColumn("_cc", ccos)
            .withColumn("_pr", F.row_number().over(w))
            .where(F.col("_pr") <= int(n_best))
            .drop("_cc", "_pr", "_centroid"))


def ivf_knn_join(emb: DataFrame, queries: DataFrame, k: int = 10,
                 nprobe: int = 2, vec_col: str = "embedding",
                 id_col: str = "vec_id", qid_col: str = "qid",
                 label_col: str = "label",
                 centroids: list | None = None) -> DataFrame:
    """Batch IVF ANN join: top-k cosine neighbors for EVERY query
    row, scanning only each query's ``nprobe`` nearest coarse
    cells — the corpus-vs-corpus ANN shape (contamination checks,
    embedding-space near-dup between two 100 TB snapshots,
    hard-negative mining at scale) that :func:`knn_join` can't
    serve once the query side is too big to collect: here BOTH
    sides stay distributed.

    Spark shape, pure Catalyst end to end: (1) the tiny centroid
    frame broadcasts against the query side and a per-qid window
    keeps the nprobe best cells (cells tie to the smaller id,
    zero-norm guarded — same ranking rule as every IVF variant);
    (2) probes hash-join the cell-keyed corpus ON THE CELL KEY, so
    the shuffle carries query·nprobe + corpus rows and the
    candidate volume is nprobe/|cells| of the cross product —
    never corpus·q; (3) exact cosine per candidate (sequential
    fold, the cross-engine-reproducible op order), rounded to 6
    decimals BEFORE ranking with ties to the smaller corpus id —
    deterministic under any partitioning. Skewed cells shard like
    any hash join (AQE skew-split applies; a hot cell is a
    quantizer-quality problem first). Corpus rows with a NULL
    ``label_col`` are EXCLUDED (a cell-keyed join cannot reach
    them — assign cells first; same documented-exclusion posture
    as the sketches' NULL ids). Output:
    (qid, vec_id, cos, rank), rank 1..k."""
    from ..localdf import arrow_df

    emb = emb.where(F.col(label_col).isNotNull())
    if centroids is None:
        centroids = [(r[label_col], list(r["centroid"])) for r in
                     label_centroids(emb, vec_col, label_col)
                     .collect()]
    spark = emb.sparkSession
    cent = arrow_df(
        spark,
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "_cell long, _centroid array<double>")

    probes = _rank_cells(
        queries.select(F.col(qid_col).alias("qid"),
                       F.col(vec_col).alias("_qv")),
        cent, "_qv", "qid", nprobe)

    corpus = (emb.where(F.col(label_col).isNotNull())
              .select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_cv"),
                      F.col(label_col).cast("long")
                      .alias("_cell")))
    pd_ = probes.join(corpus, "_cell")
    dd = dot(F.col("_cv"), F.col("_qv"))
    nna = dot(F.col("_cv"), F.col("_cv"))
    nnb = dot(F.col("_qv"), F.col("_qv"))
    cos = F.round(
        F.when((nna == 0) | (nnb == 0), F.lit(0.0))
        .otherwise(dd / (F.sqrt(nna) * F.sqrt(nnb))), 6)
    sc = pd_.select("qid", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos"), F.asc("vec_id"))
    return (sc.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
            .select("qid", "vec_id",
                    (F.col("cos") + F.lit(0.0)).alias("cos"),
                    "rank"))


def sq_index_append(spark, path: str, new_emb: DataFrame,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    batch_id: str | int | None = None) -> int:
    """Append a batch of new vectors to a SAVED :class:`SQIndex`
    without rebuilding: codes are quantized with the index's
    PINNED scale (clamped to ±127 like out-of-range queries — new
    data may exceed the old corpus max; the scale is a snapshot
    property by design), each vector is assigned to its nearest
    saved centroid by the SAME cosine rule searches rank cells
    with (ties to the smaller cell id), and the batch lands as a
    batch-stamped delta ``cells_delta/batch=<id>/cell=<c>`` written
    with OVERWRITE plus a ``_batch-<id>.done`` marker — the exact
    layout the streaming ingest sink uses, so ``SQIndex.load``
    folds it and :func:`~..streaming.corpus.compact_sq_index`
    maintains it.

    Crash safety is exactly-once BY IDEMPOTENCE, not by write
    atomicity: Spark's job commit renames task files one by one, so
    a crash mid-commit CAN expose a partial batch to a concurrent
    reader — but retrying the same append overwrites the whole
    batch directory (same ``batch_id`` → same target), converging
    to exactly the full batch, and a fully applied batch is a no-op
    (the done marker returns the recorded row count). ``batch_id``
    defaults to a content fingerprint of the batch's id multiset
    (:func:`_content_batch_id` — order-free, duplicate-counting, no
    collect), so a blind retry of the same data is idempotent
    without the caller tracking ids. Ids are the index key: a batch
    carrying the same id twice collapses to ONE indexed row
    (``_sq_assign``'s nearest-cell window keeps each id's best
    (vector, cell) pair), and the fingerprint is taken AFTER the
    collapse so it keys exactly what lands on disk.

    The quantizer stays frozen — the standard serving tradeoff;
    retrain + rebuild when drift accumulates. Returns the number of
    rows in the batch (0 for an empty delta)."""
    import os

    if batch_id is not None:
        marker = os.path.join(path, f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return _read_batch_marker(marker)
    # persist: the assignment (centroid crossJoin + window) runs
    # ONCE for count + fingerprint + write, and the cache is
    # released (blocking) before returning so long-running callers
    # don't accumulate RDDs. NOT localCheckpoint: a checkpointed
    # RDD's cache entry isn't reachable through df.rdd.unpersist
    # (that wraps a NEW conversion RDD), so the release only
    # happened when the ContextCleaner got to it — one bench query
    # late
    assigned = _sq_assign(spark, path, new_emb, vec_col, id_col) \
        .persist()
    try:
        if batch_id is None:
            n, batch_id = _content_batch_id(assigned, id_col)
        else:
            n = assigned.count()
        marker = os.path.join(path, f"_batch-{batch_id}.done")
        if os.path.exists(marker):
            return _read_batch_marker(marker)
        if n:  # an empty delta writes nothing (a cell-less batch
            # dir would break schema inference on the delta read)
            (assigned.write.mode("overwrite").partitionBy("cell")
             .parquet(os.path.join(path, "cells_delta",
                                   f"batch={batch_id}")))
        _write_batch_marker(marker, n)
    finally:
        # blocking: the hygiene ledger samples cached RDDs right
        # after the call returns
        assigned.unpersist(blocking=True)
    return n


def _sq_assign(spark, path: str, new_emb: DataFrame,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """(id, vec, qvec, cell) rows for a delta batch against a SAVED
    index: codes quantized with the pinned scale (clamped), cells
    assigned by the search-side centroid-cosine rule (ties to the
    smaller cell id) — the ONE assignment definition shared by
    :func:`sq_index_append` and the streaming ingest sink."""
    from ..localdf import arrow_df

    meta = _read_meta_rows(spark, f"{path}/meta")
    scale = float(meta[0]["scale"])
    cent = arrow_df(
        spark,
        [(int(r["cell"]), [float(x) for x in r["centroid"]])
         for r in meta],
        "_cell long, _centroid array<double>")

    qv = F.transform(
        F.col(vec_col),
        lambda x: F.greatest(
            F.lit(-SQ_LIM),
            F.least(F.lit(SQ_LIM), _sq_code(x, scale))))
    return (_rank_cells(new_emb.select(id_col, vec_col)
                        .withColumn("qvec", qv),
                        cent, vec_col, id_col, 1)
            .select(id_col, vec_col, "qvec",
                    F.col("_cell").alias("cell")))


def _sq_knn_body(corpus: DataFrame, queries: DataFrame, cent,
                 scale: float, k: int, nprobe: int, rerank: int,
                 qid_col: str) -> DataFrame:
    """Shared batch IVF-SQ8 join body: ``corpus`` must carry
    (vec_id, _cv float vec, _cq int codes, _cell); ``cent`` is the
    broadcastable (_cell, _centroid) frame. Per-query probes →
    cell-keyed join → exact-int64 coarse cut at k·rerank →
    full-precision rescore → top-k. One definition behind both
    :func:`ivf_sq_knn_join` and :meth:`SQIndex.knn_join` so the
    per-call and index serving paths cannot drift."""
    qcode = F.transform(
        F.col("_qv"),
        lambda x: F.greatest(
            F.lit(-SQ_LIM),
            F.least(F.lit(SQ_LIM), _sq_code(x, scale))))
    probes = _rank_cells(
        queries.select(F.col(qid_col).alias("qid"), "_qv")
        .withColumn("_qq", qcode),
        cent, "_qv", "qid", nprobe)

    wc = Window.partitionBy("qid").orderBy(
        F.desc("iscore"), F.asc("vec_id"))
    cand = (probes.join(corpus, "_cell")
            .withColumn("iscore",
                        int_dot(F.col("_cq"), F.col("_qq")))
            .withColumn("_rn", F.row_number().over(wc))
            .where(F.col("_rn") <= int(k) * int(rerank)))

    dd = dot(F.col("_cv"), F.col("_qv"))
    nna = dot(F.col("_cv"), F.col("_cv"))
    nnb = dot(F.col("_qv"), F.col("_qv"))
    cos = F.round(
        F.when((nna == 0) | (nnb == 0), F.lit(0.0))
        .otherwise(dd / (F.sqrt(nna) * F.sqrt(nnb))), 6)
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos"), F.asc("vec_id"))
    return (cand.select("qid", "vec_id", cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
            .select("qid", "vec_id",
                    (F.col("cos") + F.lit(0.0)).alias("cos"),
                    "rank"))


def ivf_sq_knn_join(emb: DataFrame, queries: DataFrame,
                    k: int = 10, nprobe: int = 2, rerank: int = 4,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id", qid_col: str = "qid",
                    label_col: str = "label",
                    scale: float | None = None,
                    centroids: list | None = None) -> DataFrame:
    """Batch IVF-SQ8 ANN join — :func:`ivf_knn_join` with the int8
    coarse scan in the middle (the full FAISS-style batch serving
    path): per-query probes bound candidates at nprobe/|cells| of
    the cross product, the scan inside probed cells does EXACT
    int64 multiply-adds over 4×-smaller codes (corpus codes
    unclamped — the pinned scale is the corpus max; query codes
    clamped like any out-of-range query), only the k·rerank coarse
    survivors per query are rescored at full precision. Three
    multiplicative savings on the all-pairs grid: partition
    pruning × code width × bounded float work. Pure Catalyst.
    Output: (qid, vec_id, cos, rank), rank 1..k."""
    from ..localdf import arrow_df

    emb = emb.where(F.col(label_col).isNotNull())
    if centroids is None:
        centroids = [(r[label_col], list(r["centroid"])) for r in
                     label_centroids(emb, vec_col, label_col)
                     .collect()]
    if scale is None:
        scale = sq_scale(emb, vec_col)
    cent = arrow_df(
        emb.sparkSession,
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "_cell long, _centroid array<double>")
    # NULL-label rows are excluded like in ivf_knn_join (a
    # cell-keyed join cannot reach them — assign cells first)
    corpus = (emb.where(F.col(label_col).isNotNull())
              .select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_cv"),
                      F.transform(F.col(vec_col),
                                  lambda x: _sq_code(x, scale))
                      .alias("_cq"),
                      F.col(label_col).cast("long")
                      .alias("_cell")))
    return _sq_knn_body(
        corpus, queries.select(F.col(qid_col).alias(qid_col),
                               F.col(vec_col).alias("_qv")),
        cent, scale, k, nprobe, rerank, qid_col)


def embedding_contamination(train: DataFrame, evals: DataFrame,
                            threshold: float = 0.9,
                            nprobe: int = 2,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            qid_col: str = "qid",
                            label_col: str = "label",
                            centroids: list | None = None
                            ) -> DataFrame:
    """Cross-snapshot contamination check in EMBEDDING space: each
    eval vector's nearest TRAIN vector by exact cosine, with an
    integer-exact verdict at ``threshold`` — the eval-leakage sweep
    a training run does before trusting its benchmark numbers. The
    text-side twin (n-gram containment, ``dedup.py``) catches
    verbatim overlap; this catches what n-grams can't —
    paraphrases, translations, templated rewrites — wherever the
    embedding puts them near their source.

    Spark shape: served END TO END by :func:`ivf_knn_join` with
    k=1 (both corpora stay distributed; candidates bounded at
    nprobe/|cells| of the eval×train cross product by the
    cell-keyed hash join), so the 100 TB story is the batch ANN
    join's. The verdict compares round-6 cosines as exact micro
    ints (floor(cos·10⁶ + 0.5) ≥ threshold_micro) — hashable
    cross-engine, no float threshold ambiguity at the boundary.
    Output: (qid, train_id, cos, cos_micro, contaminated), one row
    per eval vector that has ≥1 candidate in its probed cells."""
    nn = ivf_knn_join(train, evals, k=1, nprobe=nprobe,
                      vec_col=vec_col, id_col=id_col,
                      qid_col=qid_col, label_col=label_col,
                      centroids=centroids)
    thr = int(round(float(threshold) * 1_000_000))
    cm = F.floor(F.col("cos") * 1_000_000 + F.lit(0.5)) \
        .cast("long")
    # ivf_knn_join's output columns are the FIXED names
    # (qid, vec_id, cos, rank) regardless of qid_col — the caller's
    # qid_col only selects the INPUT column. Alias back here so a
    # non-default qid_col round-trips.
    return (nn.where(F.col("rank") == 1)
            .select(F.col("qid").alias(qid_col),
                    F.col("vec_id").alias("train_id"),
                    "cos",
                    cm.alias("cos_micro"),
                    (cm >= F.lit(thr)).alias("contaminated")))


def sq_index_base_stats(spark, path: str,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> list:
    """Collect the drift report's base-side statistics ONCE —
    (cell, n_base, mean_cos_base) rows, |cells|-bounded. For a
    FROZEN index these are invariant between appends, so the
    streaming drift sink computes them at construction and passes
    them to every micro-batch instead of rescanning the whole
    index per batch (refresh after an append/rebuild rotates the
    snapshot)."""
    from ..localdf import arrow_df

    meta = _read_meta_rows(spark, f"{path}/meta")
    cent = arrow_df(
        spark,
        [(int(r["cell"]), [float(x) for x in r["centroid"]])
         for r in meta],
        "cell long, _centroid array<double>")
    base = SQIndex.load(spark, path, vec_col, id_col).cells
    return [(r["cell"], r["n_base"], r["mean_cos_base"])
            for r in _drift_stats(cent, base, "_cell", vec_col,
                                  "n_base", "mean_cos_base")
            .collect()]


def _drift_stats(cent: DataFrame, df: DataFrame, cell_col: str,
                 vec_col: str, n_name: str,
                 m_name: str) -> DataFrame:
    """Per-cell (count, mean centroid cosine) — the one stats
    definition both drift sides share (order-free DECIMAL sums,
    rounded once)."""
    from ..functions.stable import stable_dsum

    d = dot(F.col("_v"), F.col("_centroid"))
    na = dot(F.col("_v"), F.col("_v"))
    nb = dot(F.col("_centroid"), F.col("_centroid"))
    ccos = F.when((na == 0) | (nb == 0), F.lit(0.0)) \
        .otherwise(d / (F.sqrt(na) * F.sqrt(nb)))
    scored = (df.select(F.col(cell_col).alias("cell"),
                        F.col(vec_col).alias("_v"))
              .join(F.broadcast(cent), "cell")
              .select("cell", ccos.alias("_cos")))
    return (scored.groupBy("cell")
            .agg(F.count(F.lit(1)).alias(n_name),
                 F.round(stable_dsum(F.col("_cos"))
                         / F.count(F.lit(1)), 6)
                 .alias(m_name)))


def sq_index_drift(spark, path: str, new_emb: DataFrame,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   base_stats: list | None = None) -> DataFrame:
    """Quantizer drift report for a frozen-coarse index — the
    "when to retrain" signal :func:`sq_index_append`'s frozen-
    quantizer tradeoff defers to. Per saved cell:

    - ``n_base`` / ``n_new``: indexed rows vs delta rows the frozen
      assignment rule would put there, and ``new_share_ppm`` (exact
      integer ppm of the delta) — a hot cell growing far past its
      base share means the quantizer no longer balances the data
      (skewed probes, straggler cells);
    - ``mean_cos_base`` / ``mean_cos_new``: mean centroid cosine of
      the indexed vs delta members (order-free DECIMAL(38,18) sums,
      rounded once) — new data sitting systematically farther from
      its own centroid than the base did is distribution shift the
      balance numbers can't see.

    One broadcast join + two groupBys over |cells| keys; the delta
    assignment is the SAME ``_sq_assign`` rule the append/ingest
    paths use, so the report describes exactly what an append would
    do. ``base_stats`` (from :func:`sq_index_base_stats`) skips the
    base-side index scan — for a frozen index those numbers are
    invariant, so a repeated caller (the streaming drift sink)
    computes them once. Output: (cell, n_base, n_new,
    new_share_ppm, mean_cos_base, mean_cos_new) — one row per
    saved cell."""
    from ..localdf import arrow_df

    meta = _read_meta_rows(spark, f"{path}/meta")
    cent = arrow_df(
        spark,
        [(int(r["cell"]), [float(x) for x in r["centroid"]])
         for r in meta],
        "cell long, _centroid array<double>")

    if base_stats is None:
        base = SQIndex.load(spark, path, vec_col, id_col).cells
        bs = _drift_stats(cent, base, "_cell", vec_col,
                          "n_base", "mean_cos_base")
    else:
        bs = arrow_df(spark,
                      [(int(c), int(n), m)
                       for c, n, m in base_stats],
                      "cell long, n_base long,"
                      " mean_cos_base double")
    assigned = _sq_assign(spark, path, new_emb, vec_col, id_col)
    ns = _drift_stats(cent, assigned, "cell", vec_col,
                      "n_new", "mean_cos_new")
    tot = ns.agg(F.sum("n_new").alias("_t"))
    return (cent.select("cell")
            .join(bs, "cell", "left")
            .join(ns, "cell", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "cell",
                F.coalesce("n_base", F.lit(0)).alias("n_base"),
                F.coalesce("n_new", F.lit(0)).alias("n_new"),
                F.expr("coalesce(n_new, 0) * 1000000"
                       " div greatest(_t, 1)")
                .alias("new_share_ppm"),
                (F.col("mean_cos_base") + F.lit(0.0))
                .alias("mean_cos_base"),
                (F.col("mean_cos_new") + F.lit(0.0))
                .alias("mean_cos_new")))


def sq_index_rebuild(spark, path: str, new_path: str,
                     k: int | None = None,
                     iters: int = 5) -> "SQIndex":
    """Retrain a saved :class:`SQIndex` from its own indexed rows —
    the REMEDIATION :func:`sq_index_drift` triggers: when appended
    data drifts from the frozen quantizer (hot cells, falling mean
    centroid cosine), rebuild fits a fresh k-means quantizer AND a
    fresh scale over everything indexed so far (base + all deltas,
    exactly what ``load`` folds) and saves the result as a NEW
    snapshot at ``new_path`` — snapshot rotation, not in-place
    mutation, so readers of the old index are never torn and the
    cutover is one path swap. Row preservation is the contract:
    every (id, vector) in the old index lands in the new one
    (pinned by the oracle entry); search quality claims stay with
    the recall audits. Returns the new (persisted) index."""
    old = SQIndex.load(spark, path)
    # persist: train drives iters+3 driver actions (k-means init
    # collect, per-iteration means, scale scan, assignment build)
    # that would otherwise each re-read the full saved index
    emb = old.cells.select(
        F.col(old.id_col), F.col(old.vec_col)).persist()
    try:
        new = SQIndex.train(emb, k=k or len(old.centroids),
                            iters=iters, vec_col=old.vec_col,
                            id_col=old.id_col)
        new.save(new_path)
    finally:
        emb.unpersist()
    return new
