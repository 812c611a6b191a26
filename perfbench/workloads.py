"""The benchmark's workloads and the models their results are checked
against.

Both are closed loops with one client: the next call starts when the
previous one returned. A workload yields its calls round by round as
``(kind, fn)`` pairs; ``kind`` names the library call and becomes the
span name. ``fn(timed)`` prepares the inputs, makes the library call
inside ``with timed():`` (the only part that is timed and traced),
checks the result against the model and returns an :class:`Outcome`.

- ``kt_grow``: a keyed lineitem table grows by append, upsert and
  MERGE while it is read back by key and key range, and a small
  customer table is read through its Bloom filters. This is the
  reference's core use; it loads the write and commit path, manifest
  growth, the Delta mirror writer and every read shape.
- ``llm_corpus``: a batch LLM-data pipeline with no keyed commits:
  exact and MinHash near-duplicate detection, document profiling, JPEG
  decode through the Python seam, an IVF-PQ index build and ANN
  probes. It is dominated by the index trainer's driver
  round-trips and the Python/Arrow seam, so a change to the keyed-table
  layer should not move it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

import datagen

# Workload sizes. "full" is what the benchmark measures: lineitem and
# customer at sf0.01, embeddings at sf0.1 (their sizes in the test
# data), 2,000 documents (sf0.1 has 5,000; the corpus calls cost about
# the same at either size, and a run must stay short, see README.md).
# "tiny" is the self-test's, the sf0.001 sizes.
SCALES = {
    "full": {"sf": 0.01, "lineitem": 60_000, "customer": 1_500, "docs": 2_000, "vecs": 2_000, "probes": 100},
    "tiny": {"sf": 0.001, "lineitem": 6_000, "customer": 150, "docs": 500, "vecs": 500, "probes": 10},
}
# recall@10 of the lossy IVF-PQ configuration below (m=8, 16 codes,
# nprobe 6 of 16 cells) is about 0.22 on isotropic unit vectors, which
# carry no cluster structure for the codebooks to use; bench.py guards
# the same configuration with the same floor
RECALL_FLOOR = 0.15
MINHASH_THRESHOLD = 0.5  # the library's default


class CheckFailed(AssertionError):
    """A result disagreed with the benchmark's model."""


@dataclass
class Outcome:
    rows_in: int = 0  # rows handed to the call
    rows_out: int = 0  # rows it returned
    recall: float | None = None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Workload:
    name = ""
    write_kinds: tuple[str, ...] = ()
    read_kinds: tuple[str, ...] = ()
    fault_kind = ""  # the call the self-test makes raise

    def __init__(self, spark, data_dir: str, seed: int, scale: str):
        self.spark = spark
        self.data_dir = data_dir
        self.rng = np.random.default_rng(seed)
        self.size = SCALES[scale]
        self.plant_wrong = False  # self-test: the next check expects one more

    def check(self, what: str, got, want) -> None:
        if self.plant_wrong:
            self.plant_wrong = False
            want = (want[0] + 1, *want[1:]) if isinstance(want, tuple) else want + 1
        if got != want:
            raise CheckFailed(f"{what}: got {got!r}, model says {want!r}")

    def setup(self, i: int) -> None:
        """Build the workload's starting state; run several times."""
        raise NotImplementedError

    def setup_once(self) -> None:
        """Set-up that is not repeated."""

    def begin_measure(self) -> None:
        """Called after the warm-up, when the measured loop starts."""

    def rounds(self):
        """Endless rounds; each is a list of ``(kind, fn)``."""
        raise NotImplementedError

    def space(self) -> dict[str, float]:
        """``stored_bytes_per_row`` and ``bytes_written_per_row``."""
        raise NotImplementedError

    def layer_facts(self) -> dict[str, float]:
        return {}


class KtGrow(Workload):
    name = "kt_grow"
    write_kinds = ("io.to_table.append", "delta.delta_append", "io.to_table.upsert", "io.merge_table")
    read_kinds = ("io.read_table.narrow", "io.read_table.point", "io.read_table.bloom")
    fault_kind = "io.read_table.narrow"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from pandabase_spark import KeyedCatalog
        from pandabase_spark.workload import LI_KEYS

        self.keys = list(LI_KEYS)
        self.cat = KeyedCatalog(self.spark, os.path.join(self.data_dir, "warehouse"))
        self.sf = self.size["sf"]
        self.base = datagen.lineitem(self.rng, self.size["lineitem"], 0, self.sf)
        self.top = int(self.base["l_orderkey"].max())  # highest order key in the table
        self.orders = self.top + 1  # order keys in the set-up table
        self.model = self.base.set_index(self.keys)[["l_quantity"]]
        self.customers = datagen.customer(self.rng, self.size["customer"])
        self.recent: list[pd.DataFrame] = []  # last appended batches
        self.table = self.mirror = ""
        self.delta_version = 0
        self.committed_rows = 0
        self.table_bytes_before = 0

    # -- set-up ------------------------------------------------------------

    def setup(self, i: int) -> None:
        self.table = f"lineitem_{i}"
        # created from a Spark frame, as pandabase_spark.workload does:
        # the table keeps the frame's key types, which the Spark-frame
        # MERGE sources below must match (see README.md, "Known gap")
        self.cat.to_table(self.spark.createDataFrame(self.base), self.table, keys=self.keys)

    def setup_once(self) -> None:
        from pandabase_spark.sources.delta_writer import delta_create

        self.mirror = os.path.join(self.data_dir, "lineitem_delta")
        delta_create(self.spark.createDataFrame(self.base), self.mirror)
        # a customer table with a Bloom filter on c_name, in two segments
        half = len(self.customers) // 2
        first, second = (self.spark.createDataFrame(p) for p in (self.customers[:half], self.customers[half:]))
        self.cat.to_table(first, "customer", keys=["c_custkey"], bloom_columns=["c_name"])
        self.cat.to_table(second, "customer", keys=["c_custkey"], how="append")

    def begin_measure(self) -> None:
        self.committed_rows = 0
        self.table_bytes_before = dir_bytes(self.cat.table_detail(self.table)["location"])

    # -- the model ---------------------------------------------------------

    def _okeys(self) -> np.ndarray:
        return self.model.index.get_level_values(0).to_numpy()

    def _expect_range(self, lo: int, hi: int) -> tuple[int, float]:
        sel = (self._okeys() >= lo) & (self._okeys() <= hi)
        return int(sel.sum()), float(self.model["l_quantity"].to_numpy()[sel].sum())

    def _live_row(self) -> tuple:
        return self.model.index[int(self.rng.integers(0, len(self.model)))]

    def _new_rows(self, n: int) -> pd.DataFrame:
        """About ``n`` rows of new orders above the live key range."""
        rows = datagen.lineitem(self.rng, n, self.top + 1, self.sf)
        self.top = int(rows["l_orderkey"].max())
        return rows

    # -- calls -------------------------------------------------------------

    def _append(self, timed) -> Outcome:
        batch = self._new_rows(len(self.base) // 100)
        frame = batch.set_index(self.keys)
        with timed():
            self.cat.to_table(frame, self.table, how="append")
        self.model = pd.concat([self.model, batch.set_index(self.keys)[["l_quantity"]]])
        self.recent = (self.recent + [batch])[-3:]
        self.committed_rows += len(batch)
        return Outcome(rows_in=len(batch))

    def _delta_append(self, timed) -> Outcome:
        from pandabase_spark.sources.delta_writer import delta_append

        batch = self.recent[-1]
        with timed():
            v = delta_append(self.spark.createDataFrame(batch), self.mirror)
        self.check("delta version", v, self.delta_version + 1)
        self.delta_version = v
        return Outcome(rows_in=len(batch))

    def _rows(self, keys: pd.Index) -> pd.DataFrame:
        """Fresh value columns for the given keys (drawn twice over, as
        ``lineitem`` drops rows with repeated keys)."""
        rows = datagen.lineitem(self.rng, 2 * len(keys), 0, self.sf).iloc[: len(keys)].copy()
        for i, k in enumerate(self.keys):
            rows[k] = keys.get_level_values(i).to_numpy()
        return rows

    def _upsert(self, timed) -> Outcome:
        # time-series correction: mostly rows of the last appends
        n = max(2, len(self.model) // 100)
        recent = pd.concat(self.recent).set_index(self.keys).index
        recent = recent[recent.isin(self.model.index)]
        n_recent = min(len(recent), int(n * 0.8))
        idx = recent[self.rng.choice(len(recent), n_recent, replace=False)]
        idx = idx.append(
            self.model.index[self.rng.choice(len(self.model), n - n_recent, replace=False)]
        ).unique()
        rows = self._rows(idx).set_index(self.keys)
        with timed():
            self.cat.to_table(rows, self.table, how="upsert")
        self.model.update(rows[["l_quantity"]])
        self.committed_rows += len(rows)
        return Outcome(rows_in=len(rows))

    def _merge(self, timed) -> Outcome:
        # matched rows: ~10% deleted by the clause, the rest updated;
        # a quarter as many rows of new orders inserted
        n = max(2, len(self.model) // 200)
        matched = self._rows(self.model.index[self.rng.choice(len(self.model), n, replace=False)])
        src = pd.concat([matched, self._new_rows(max(1, n // 4))], ignore_index=True)
        with timed():
            res = self.cat.merge_table(
                self.spark.createDataFrame(src), self.table,
                when_matched_delete="s.l_quantity > 45",
            )
        m = src.set_index(self.keys)[["l_quantity"]]
        hit = m.index.isin(self.model.index)
        gone = hit & (m["l_quantity"].to_numpy() > 45)
        want = {
            "updated": int((hit & ~gone).sum()),
            "deleted": int(gone.sum()),
            "inserted": int((~hit).sum()),
        }
        self.check("merge metrics", {k: int(res.get(k, -1)) for k in want}, want)
        self.model = self.model.drop(m.index[gone])
        self.model.update(m[hit & ~gone])
        self.model = pd.concat([self.model, m[~hit]])
        self.committed_rows += sum(want.values())
        return Outcome(rows_in=len(src))

    def _range(self, timed, share: float, read) -> Outcome:
        """Order keys [lo, lo + width], ``width`` a share of the set-up
        table's orders."""
        width = max(1, int(self.orders * share))
        lo = int(self.rng.integers(0, max(1, self.top - width)))
        bound = dict(lowest=(lo, None, None, None), highest=(lo + width, None, None, None))
        with timed():
            n, qty = read(bound)
        self.check(f"range [{lo}, {lo + width}]", (n, qty), self._expect_range(lo, lo + width))
        return Outcome(rows_out=n)

    def _narrow(self, timed) -> Outcome:
        def read(bound):
            rows = self.cat.read_table(self.table, **bound).collect()
            return len(rows), float(sum(r["l_quantity"] for r in rows))

        return self._range(timed, 0.001, read)

    def _wide(self, timed) -> Outcome:
        def read(bound):
            pdf = self.cat.read_pandas(self.table, **bound)
            return len(pdf), float(pdf["l_quantity"].sum())

        return self._range(timed, 0.1, read)

    def _point(self, timed) -> Outcome:
        key = self._live_row()
        bound = tuple(int(k) for k in key)
        with timed():
            rows = self.cat.read_table(self.table, lowest=bound, highest=bound).collect()
        self.check(
            f"point {bound}",
            (len(rows), sum(float(r["l_quantity"]) for r in rows)),
            (1, float(self.model.loc[key, "l_quantity"])),
        )
        return Outcome(rows_out=len(rows))

    def _bloom(self, timed) -> Outcome:
        row = self.customers.iloc[int(self.rng.integers(0, len(self.customers)))]
        with timed():
            rows = self.cat.read_table("customer", bloom_point={"c_name": row["c_name"]}).collect()
        self.check(
            f"bloom {row['c_name']}",
            (len(rows), sum(r["c_custkey"] for r in rows), sum(r["c_acctbal"] for r in rows)),
            (1, int(row["c_custkey"]), float(row["c_acctbal"])),
        )
        return Outcome(rows_out=len(rows))

    def rounds(self):
        while True:
            reads = [
                ("io.read_table.narrow", self._narrow),
                ("io.read_table.point", self._point),
                ("io.read_table.bloom", self._bloom),
                ("io.read_table.point", self._point),
            ]
            yield [
                ("io.to_table.append", self._append),
                *reads,
                ("delta.delta_append", self._delta_append),
                ("io.to_table.upsert", self._upsert),
                *reads,
                ("io.merge_table", self._merge),
                *reads,
                ("io.read_pandas.wide", self._wide),
            ]

    def space(self) -> dict[str, float]:
        detail = self.cat.table_detail(self.table)
        written = dir_bytes(detail["location"]) - self.table_bytes_before
        return {
            "stored_bytes_per_row": detail["size_bytes"] / len(self.model),
            "bytes_written_per_row": written / max(1, self.committed_rows),
        }

    def layer_facts(self) -> dict[str, float]:
        detail = self.cat.table_detail(self.table)
        return {"io.n_segments": detail["n_segments"], "io.manifest_bytes": detail["manifest_bytes"]}


class LlmCorpus(Workload):
    name = "llm_corpus"
    write_kinds = ("similarity.write_ivfpq_index",)
    read_kinds = ("similarity.ann_topk_ivfpq_indexed",)
    fault_kind = "dedup.dedup_by_content_hash"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.docs = datagen.documents(self.rng, self.size["docs"])
        self.vecs = datagen.embeddings(self.rng, self.size["vecs"])
        norm = [datagen.normalized(t) for t in self.docs["text"]]
        self.distinct = len(set(norm))
        self.profile = (len(norm), sum(len(t.split(" ")) for t in norm), int(self.docs["n_chars"].sum()))
        self.shingles = [set(zip(w, w[1:], w[2:])) for w in (t.split(" ") for t in norm)]
        # planted near duplicates: a document and the one that is it plus " dup"
        first = {}
        for i, t in enumerate(norm):
            first.setdefault(t, i)
        self.planted = {
            tuple(sorted((i, first[t[:-4]])))
            for i, t in enumerate(norm)
            if t.endswith(" dup") and first.get(t[:-4], i) != i
        }
        ids = self.docs["doc_id"].to_numpy()
        w, h = 8 + ids % 9, 8 + ids % 5
        self.pixels = int((w * h).sum())
        self.gray_sum = int((w * h * 2 * (ids % 128)).sum())
        self.probe_ids = np.sort(self.rng.choice(len(self.vecs), self.size["probes"], replace=False))
        mat = np.stack(self.vecs["embedding"].to_numpy()).astype("float64")
        sims = mat[self.probe_ids] @ mat.T  # unit vectors: cosine
        self.truth = {
            int(q): set(np.argsort(-sims[i], kind="stable")[:10].tolist())
            for i, q in enumerate(self.probe_ids)
        }
        self.ddf = self.edf = self.qdf = None
        self.n_index = 0
        self.index_path = ""
        self.index_bytes: list[tuple[int, int]] = []  # (bytes, vectors) per build

    def setup(self, i: int) -> None:
        from pyspark.sql import functions as F

        for df in (self.ddf, self.edf, self.qdf):
            if df is not None:
                df.unpersist()
        self.ddf = self.spark.createDataFrame(self.docs).cache()
        self.edf = self.spark.createDataFrame(self.vecs).cache()
        self.check("documents loaded", self.ddf.count(), len(self.docs))
        self.check("embeddings loaded", self.edf.count(), len(self.vecs))
        self.qdf = self.edf.where(F.col("vec_id").isin([int(q) for q in self.probe_ids])).cache()
        self.check("probes loaded", self.qdf.count(), len(self.probe_ids))

    def begin_measure(self) -> None:
        self.index_bytes = []

    def _dedup(self, timed) -> Outcome:
        from pandabase_spark.operators.dedup import dedup_by_content_hash

        with timed():
            n = dedup_by_content_hash(self.ddf, "text", "doc_id").count()
        self.check("exact-dedup survivors", n, self.distinct)
        return Outcome(rows_in=len(self.docs))

    def _jaccard(self, i: int, j: int) -> float:
        a, b = self.shingles[i], self.shingles[j]
        return len(a & b) / len(a | b)

    def _minhash(self, timed) -> Outcome:
        from pandabase_spark.operators.dedup import minhash_lsh_pairs

        with timed():
            rows = minhash_lsh_pairs(self.ddf, "doc_id", "text", threshold=MINHASH_THRESHOLD).collect()
        got = {(int(r["id_1"]), int(r["id_2"])): r["jaccard"] for r in rows}
        # LSH may miss a pair near the threshold, but not a planted one
        # (Jaccard >= 8/9: found with probability above 1 - 1e-6)
        wrong = sum(
            abs(self._jaccard(i, j) - jac) > 1e-9 or jac < MINHASH_THRESHOLD
            for (i, j), jac in got.items()
        )
        self.check("minhash pairs (planted missed, wrong)", (len(self.planted - got.keys()), wrong), (0, 0))
        return Outcome(rows_in=len(self.docs), rows_out=len(rows))

    def _profile(self, timed) -> Outcome:
        from pyspark.sql import functions as F

        from pandabase_spark.operators.text_analysis import document_profile

        with timed():
            r = document_profile(self.ddf).agg(
                F.count(F.lit(1)), F.sum("n_tokens"), F.sum("n_chars"), F.countDistinct("chash")
            ).first()
        self.check("document profile", (r[0], r[1], r[2], r[3]), (*self.profile, self.distinct))
        return Outcome(rows_in=len(self.docs))

    def _jpeg(self, timed) -> Outcome:
        from pyspark.sql import functions as F

        from pandabase_spark.operators.multimodal import attach_jpeg_payload, decode_jpeg_stats

        with timed():
            r = decode_jpeg_stats(attach_jpeg_payload(self.ddf.select("doc_id"))).agg(
                F.count(F.lit(1)), F.sum("n_pixels"), F.sum("sum_bytes")
            ).first()
        self.check("jpeg decode stats", (r[0], r[1], r[2]), (len(self.docs), self.pixels, self.gray_sum))
        return Outcome(rows_in=len(self.docs))

    def _index(self, timed) -> Outcome:
        from pandabase_spark.operators.similarity import write_ivfpq_index

        self.n_index += 1
        self.index_path = os.path.join(self.data_dir, f"ivfpq_{self.n_index}")
        with timed():
            write_ivfpq_index(self.edf, self.index_path, n_cells=16, m=8, n_codes=16, iters=2, sample_mod=2)
        self.index_bytes.append((dir_bytes(self.index_path), len(self.vecs)))
        return Outcome(rows_in=len(self.vecs))

    def _ann(self, timed) -> Outcome:
        from pandabase_spark.operators.similarity import ann_topk_ivfpq_indexed

        with timed():
            rows = ann_topk_ivfpq_indexed(self.spark, self.index_path, self.qdf, k=10, nprobe=6).collect()
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        hits = sum(len(got.get(q, set()) & t) for q, t in self.truth.items())
        recall = hits / (10 * len(self.truth))
        if recall < RECALL_FLOOR:
            raise CheckFailed(f"recall@10 {recall:.3f} under the floor {RECALL_FLOOR}")
        return Outcome(rows_in=len(self.truth), rows_out=len(rows), recall=recall)

    def rounds(self):
        while True:
            yield [
                ("dedup.dedup_by_content_hash", self._dedup),
                ("dedup.minhash_lsh_pairs", self._minhash),
                ("text_analysis.document_profile", self._profile),
                ("multimodal.decode_jpeg_stats", self._jpeg),
                ("similarity.write_ivfpq_index", self._index),
                ("similarity.ann_topk_ivfpq_indexed", self._ann),
            ]

    def space(self) -> dict[str, float]:
        b = sum(x for x, _ in self.index_bytes)
        n = sum(v for _, v in self.index_bytes)
        last_b, last_n = self.index_bytes[-1]
        return {"stored_bytes_per_row": last_b / last_n, "bytes_written_per_row": b / n}


WORKLOADS = {w.name: w for w in (KtGrow, LlmCorpus)}
