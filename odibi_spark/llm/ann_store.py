"""Persisted IVF-PQ index (:func:`odibi_spark.llm.similarity.ivf_pq_topk`),
the ANN twin of the MinHash ``SignatureStore``
(:mod:`odibi_spark.llm.incremental`): trained once, new batches encoded
delta-only against the PINNED geometry, and probes reading only the
cell partitions their queries route to:

- ``{path}/codes`` — (nbr_id, cell, pq_codes) parquet partitioned by
  (batch_id, cell), a ``ParquetTarget``: each append is one commit
  replacing its ``batch_id`` partition, so a replayed batch replaces
  its own files.
- ``{path}/_index_meta.json`` — pins the FULL index identity:
  geometry (nlist/m/k/dim/iters) AND the trained parameters
  (coarse centroids + PQ codebooks, a few KB of floats). An append or
  probe whose constructor geometry disagrees raises — codes encoded
  under different codebooks are not comparable, and silently mixing
  them would corrupt every subsequent ADC ranking. Storing the
  trained parameters in the meta (not retraining) is what makes
  append/probe DETERMINISTIC across runs and batch splits: encoding
  is a pure function of (vector, codebooks).

Scale: train touches only the build batch (2m+1 bounded jobs); append
shuffles only the delta (m bytes + cell per new vector); probe reads
|probed cells| / nlist of the stored codes and broadcasts the query
side. Nothing ever re-reads or re-encodes the full corpus after
build. Reference parity: the reference persists no vector index (its
ANN paths are per-invocation) — this module is a beyond-reference
component following its incremental MinHash store design
(reference odibi/incremental/* via SURVEY §2.11).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from odibi_spark.llm import similarity
from odibi_spark.patterns.merge_target import ParquetTarget


class AnnIndexStore:
    """Durable IVF-PQ index with geometry pinning and delta append."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        nlist: int = 8,
        nprobe: int = 2,
        m: int = 16,
        k: int = 64,
        dim: int = 64,
        iters: int = 0,
        pq_iters: int = 1,
        residual: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.nlist = int(nlist)
        self.nprobe = int(nprobe)
        self.m = int(m)
        self.k = int(k)
        self.dim = int(dim)
        self.iters = int(iters)
        # Lloyd steps for the PQ codebooks at build time. NOT index
        # identity: the trained codebooks land in the meta, so a
        # probe/append process never needs to know how many steps
        # produced them (the same exemption as nprobe).
        self.pq_iters = int(pq_iters)
        # residual IS index identity: codes under residual encoding
        # are meaningless against raw-encoded probes and vice versa
        self.residual = bool(residual)
        self.centroids: list[list[float]] | None = None
        self.codebooks: list[list[list[float]]] | None = None
        self._codes = os.path.join(path, "codes")
        self._meta = os.path.join(path, "_index_meta.json")

    # -- identity ----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self._meta)

    def _geometry(self) -> dict:
        return {
            "kind": "ivf_pq",
            "nlist": self.nlist, "m": self.m, "k": self.k,
            "dim": self.dim, "iters": self.iters,
            "residual": self.residual,
        }

    def _load_meta(self) -> dict:
        with open(self._meta) as fh:
            return json.load(fh)

    def check_config(self) -> None:
        """Load the pinned geometry + trained parameters; raise when
        this process's constructor geometry disagrees (the
        SignatureStore drift-refusal contract — ``nprobe`` is a QUERY
        parameter, not index identity, so it is exempt)."""
        meta = self._load_meta()
        want = self._geometry()
        stored = {kk: meta.get(kk) for kk in want}
        mismatch = {
            kk: (want[kk], stored[kk])
            for kk in want if stored[kk] != want[kk]
        }
        if mismatch:
            raise ValueError(
                f"ann index {self.path} was built with a different "
                f"geometry: {mismatch} (want, stored) — rebuild the "
                "index; codes under different codebooks are not "
                "comparable"
            )
        self.centroids = meta["centroids"]
        self.codebooks = meta["codebooks"]

    # -- lifecycle ---------------------------------------------------------

    def _encode(
        self, df: DataFrame, id_col: str, vec_col: str
    ) -> DataFrame:
        """(nbr_id, cell, pq_codes) for ``df`` under the pinned
        geometry — a zero-shuffle codegen map (inline centroid argmax
        + inline codebook argmin)."""
        assigned = similarity.ivf_assign(
            df, id_col, vec_col, self.centroids
        )
        if self.residual:
            assigned = assigned.withColumn(
                "vec",
                similarity._residual_expr("vec", "cell", self.centroids),
            )
        sub = self.dim // self.m
        if similarity._use_pq_expr(self.m, self.k):
            return assigned.select(
                F.col("id").alias("nbr_id"),
                F.col("cell"),
                similarity._pq_codes_expr(
                    "vec", self.codebooks, sub
                ).alias("pq_codes"),
            )
        return similarity._pq_codes_map(
            assigned.select(F.col("id").alias("nbr_id"), "cell", "vec"),
            ["nbr_id", "cell"], "vec", self.codebooks, "pq_codes",
        )

    def build(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
    ) -> None:
        """Train coarse centroids + PQ codebooks on ``df`` (the
        training batch — typically the first ingestion slice) and pin
        them in the meta (atomic temp+rename, BEFORE any codes land —
        the SignatureStore crash-ordering lesson). Ingestion is
        separate: feed batches through :meth:`append` /
        :func:`run_incremental_ann`, which encode under THIS pinned
        geometry — training never reruns, so batch-split execution is
        bit-identical to a one-shot pass."""
        self.centroids = similarity.ivf_centroids(
            df, id_col, vec_col, nlist=self.nlist, iters=self.iters
        )
        if self.residual:
            res = similarity.ivf_assign(
                df, id_col, vec_col, self.centroids
            ).withColumn(
                "vec",
                similarity._residual_expr("vec", "cell", self.centroids),
            )
            self.codebooks = similarity.pq_train(
                res, "id", "vec", m=self.m, k=self.k, dim=self.dim,
                iters=self.pq_iters,
            )
        else:
            self.codebooks = similarity.pq_train(
                df, id_col, vec_col, m=self.m, k=self.k, dim=self.dim,
                iters=self.pq_iters,
            )
        os.makedirs(self.path, exist_ok=True)
        meta = {
            **self._geometry(),
            "centroids": self.centroids,
            "codebooks": self.codebooks,
        }
        tmp = self._meta + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, self._meta)

    def append(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        *,
        batch_id: str,
    ) -> None:
        """Encode ``df`` (the DELTA — callers pair this with an HWM
        filter, see :func:`run_incremental_ann`) under the pinned
        geometry and append, as one commit replacing the
        ``batch_id`` partition: replaying a crashed batch replaces
        exactly its own files, never double-counting."""
        if self.codebooks is None:
            self.check_config()
        # repartition ON cell first: partitionBy from N tasks
        # otherwise writes N x nlist tiny files per append
        enc = self._encode(df, id_col, vec_col).repartition("cell").withColumn("batch_id", F.lit(str(batch_id)))
        ParquetTarget(self.spark, self._codes).replace_partitions(
            lambda staged: enc.write.partitionBy("batch_id", "cell").parquet(staged)
        )

    def read_codes(
        self, cells: list[int] | None = None
    ) -> DataFrame | None:
        """Stored (nbr_id, cell, pq_codes); ``cells`` narrows the
        read to those partition directories (static partition
        pruning — probes pass their routed cell set)."""
        if not ParquetTarget(self.spark, self._codes).live():
            return None
        df = self.spark.read.parquet(self._codes)
        if cells is not None:
            df = df.filter(F.col("cell").isin([int(c) for c in cells]))
        return df.select("nbr_id", "cell", "pq_codes")

    def probe(
        self,
        queries: DataFrame,
        id_col: str,
        vec_col: str,
        *,
        topk: int = 5,
        nprobe: int | None = None,
    ) -> DataFrame:
        """ADC top-k for ``queries`` against the STORED codes —
        (query_id, nbr_id, adc_dist, rank), the ``ivf_pq_topk``
        output contract, without touching a single raw corpus vector.

        Routing happens driver-side against the pinned centroids
        (O(nlist) floats), so the probed cell set is known BEFORE the
        scan and the codes read prunes to those partitions."""
        from pyspark.sql.window import Window

        if self.codebooks is None:
            self.check_config()
        npb = self.nprobe if nprobe is None else int(nprobe)
        sel = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
        )
        sims = F.array(*[
            similarity._dot_lit("q_vec", c) for c in self.centroids
        ])
        cand = sel.select(
            "query_id", "q_vec", F.posexplode(sims).alias("cell", "sim")
        )
        probe_w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("cell")
        )
        probes = (
            cand.withColumn("pr", F.row_number().over(probe_w))
            .filter(F.col("pr") <= npb)
            .select(
                "query_id", "q_vec",
                F.col("cell").cast("int").alias("cell"),
            )
        )
        # driver-side routed cell set -> static partition pruning on
        # the codes read (tiny collect: <= queries x nprobe ints)
        cells = sorted({
            int(r["cell"]) for r in probes.select("cell").distinct().collect()
        })
        codes = self.read_codes(cells=cells)
        if codes is None:
            raise FileNotFoundError(f"no codes stored at {self._codes}")
        if self.residual:
            probes = probes.withColumn(
                "q_vec",
                similarity._residual_expr(
                    "q_vec", "cell", self.centroids
                ),
            )
        pairs = codes.join(F.broadcast(probes), "cell").filter(
            F.col("query_id") != F.col("nbr_id")
        )
        scored = similarity._adc_score(pairs, self.codebooks, 6)
        w = Window.partitionBy("query_id").orderBy(
            F.asc("adc_dist"), F.asc("nbr_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", "nbr_id", "adc_dist", "rank")
        )


def run_incremental_ann(
    df: DataFrame,
    store: AnnIndexStore,
    state,
    *,
    id_col: str,
    vec_col: str,
    batch_id: str,
    state_key: str = "ann_hwm",
) -> int:
    """One ingestion epoch: HWM-filter ``df`` to the unseen delta
    (``id_col`` > committed mark), encode + append ONLY the delta,
    commit the new mark AFTER the append lands (the
    :func:`run_incremental_dedup` shape — crash between append and
    commit replays the batch, and the append's partition replace
    makes the replay idempotent). Returns the number of delta rows
    appended; first run with no committed mark ingests everything.
    The store must already be built (geometry trained + pinned)."""
    from odibi_spark.state.hwm import incremental_filter

    delta = incremental_filter(
        df, column=id_col,
        hwm=state.get(state_key) if store.exists() else None,
    )
    # ONE job computes the delta's row count and its HWM together
    # (previously count() + capture_hwm ran two scans of the delta;
    # r15 job-count trim). A TIMESTAMP max is cast to string by Spark,
    # in the session zone, as capture_hwm does: collected as a datetime
    # it would render in the driver process's zone
    m = F.max(id_col)
    if isinstance(delta.schema[id_col].dataType, T.TimestampType):
        m = m.cast("string")
    row = delta.agg(F.count(F.lit(1)).alias("n"), m.alias("m")).collect()[0]
    n = int(row["n"])
    if n:
        store.append(delta, id_col, vec_col, batch_id=batch_id)
        if row["m"] is not None:
            state.set(state_key, str(row["m"]))
    return n
