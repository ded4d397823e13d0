"""``corpus_build_serve``: build the curated training mount and the ANN
index cold, then serve retrieval calls warm.

The cold phase releases every shared artifact
(``materialize.shared_release``) and runs ``ann_store.save_chunk_ann_index``,
preceded in the traced run by ``curate.write_training_mount``. The warm phase loops over
three retrieval queries (one of them a ``streaming.pipeline`` drain) and
``ann_store.serve_chunk_ann_from_disk`` in an order permuted by the seed,
reading the artifacts the cold phase pinned. The
mount is checked by recomputing its Merkle root from the written files,
and its root and manifest hash by comparing them with what earlier runs
in the same checkout recorded. Every retrieval result is hashed against
the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import datagen
from common import ROOT, dir_stats
from oracle import Oracle

DATA_SEED = 20240101
RETRIEVAL = ["chunk_embed_topk_ann", "knn_cosine_lsh", "streaming_knn_serving"]
SERVE = "serve_chunk_ann_from_disk"
MERKLE_SUBS = 256


def merkle_root(corpus_dir: str) -> tuple[str, int]:
    """(root hash, rows) of a written mount corpus, recomputed from its
    files alone: md5 of sorted row hashes per (shard, doc_id % 256), chained
    per shard in sub-bucket order, then over shards in shard order."""
    subs: dict[int, dict[int, list[str]]] = {}
    n = 0
    for base, _, names in os.walk(corpus_dir):
        part = os.path.basename(base)
        if not part.startswith("shard_id="):
            continue
        shard = int(part.split("=", 1)[1])
        for f in names:
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(base, f), columns=["doc_id", "text"])
            for doc_id, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
                rh = hashlib.md5(f"{doc_id}:{text}".encode()).hexdigest()
                subs.setdefault(shard, {}).setdefault(doc_id % MERKLE_SUBS, []).append(rh)
                n += 1
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    shard_h = [
        md5("".join(md5("".join(sorted(subs[s][b]))) for b in sorted(subs[s])))
        for s in sorted(subs)
    ]
    return md5("".join(shard_h)), n


class CorpusBuildServe:
    name = "corpus_build_serve"
    max_cycles = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_docs = 60 if ctx.small else 150
        self.data = ""
        self.mount = os.path.join(ctx.work, "mount")
        self.index = os.path.join(ctx.work, "index")
        self.oracle: Oracle | None = None
        self.mount_stats = (0, 0.0)
        self.index_mb = 0.0

    def prepare(self, rep: int) -> None:
        self.data = os.path.join(self.ctx.work, f"data{rep}")
        datagen.generate(self.data, DATA_SEED, 0.001, n_docs=self.n_docs)

    def load(self) -> None:
        from ethical_data_ingestion_spark import io

        io.preresolve_tables(self.ctx.spark, self.data)

    def prepare_checks(self) -> None:
        self.oracle = Oracle(self.data)
        for q in RETRIEVAL:
            self.oracle.hash(q)

    def warmup(self) -> None:
        """None: the cold phase is what this workload measures."""

    def cold(self) -> None:
        from ethical_data_ingestion_spark import ann_store, curate, materialize

        ctx, spark = self.ctx, self.ctx.spark
        materialize.shared_release(spark)
        # the mount is a fixed ~40 s of planning and compilation in a fresh
        # JVM, whatever the corpus size: only the traced run builds it, so
        # that the full set of untraced runs fits the benchmark's time budget
        if ctx.trace:
            got = ctx.op("mount", "curate.mount",
                         lambda: curate.write_training_mount(spark, self.data, self.mount),
                         lazy=False)
            if got is not None:
                self._check_mount(got)
        meta = ctx.op("index", "ann_store.save",
                      lambda: ann_store.save_chunk_ann_index(spark, self.data, self.index), lazy=False)
        if meta is not None:
            ctx.check(meta.get("kind") == "chunk_lsh", "ann index meta")
            self.index_mb = dir_stats(self.index)[1]
        # the first serving pass plans, compiles and pins: it is checked
        # but not recorded, so that the recorded cycle runs warm
        self.cycle(-1, record=False)

    def _check_mount(self, got: dict) -> None:
        ctx = self.ctx
        root, rows = merkle_root(os.path.join(self.mount, "corpus"))
        ctx.check(root == got["root_hash"] and rows == got["docs_kept"],
                  f"mount merkle root {root} != {got['root_hash']}")
        t = pq.read_table(os.path.join(self.mount, "manifest"))
        manifest = self.oracle.value_hash(t.column_names, [tuple(r.values()) for r in t.to_pylist()])
        state = os.path.join(ROOT, ".perfbench", "state")
        os.makedirs(state, exist_ok=True)
        path = os.path.join(state, f"corpus_mount_{self.n_docs}.txt")
        if os.path.exists(path):
            with open(path) as fh:
                ctx.check(fh.read().split() == [root, manifest],
                          "mount root or manifest differs from an earlier run")
        else:
            with open(path, "w") as fh:
                fh.write(f"{root} {manifest}\n")
        self.mount_stats = dir_stats(self.mount)

    def call(self, q: str, record: bool = True) -> None:
        from ethical_data_ingestion_spark import ann_store, registry

        ctx, spark = self.ctx, self.ctx.spark
        if q == SERVE:
            res = ctx.op("retrieval", "ann_store.serve",
                         lambda: ann_store.serve_chunk_ann_from_disk(spark, self.data, self.index),
                         name=q, record=record)
            want = "chunk_embed_topk_ann"
        else:
            fn = registry.QUERIES[q]
            layer = "queries." + fn.__module__.rsplit(".", 1)[-1]
            res = ctx.op("retrieval", layer, lambda: fn(spark, self.data), name=q, record=record)
            want = q
        if res is not None:
            ctx.check(self.oracle.matches(want, res), f"oracle hash {q}")

    def cycle(self, i: int, record: bool = True) -> None:
        calls = RETRIEVAL + [SERVE]
        if i < 0:
            # the first pass decides which call pins each shared artifact:
            # the same order in every run, so that the seed does not move
            # the warm phase's cost
            order = range(len(calls))
        else:
            # untraced, the one recorded cycle serves every call three times:
            # a stall of a few seconds then moves fewer of the samples the
            # median is taken from, without another cold build
            if not self.ctx.trace:
                calls = calls * 3
            order = np.random.default_rng([self.ctx.seed, i + 1]).permutation(len(calls))
        for j in order:
            self.call(calls[j], record=record)

    def finish(self) -> dict[str, float]:
        self.oracle.close()
        return {
            "curate.files_written": self.mount_stats[0],
            "curate.mb_written": self.mount_stats[1],
            "ann_store.index_mb": self.index_mb,
        }
