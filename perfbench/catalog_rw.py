"""``catalog_rw``: the reference CLI's own surface on a growing catalog.

Each cycle spools one JSONL batch across the four sources and runs
``cli.cmd_collect`` on it, then 24 ``cmd_search`` calls (8 in the
warm-up; common, mid and rare terms of a Zipf vocabulary, with and
without a source or data-type filter), ``cmd_analytics``, ``cmd_status`` and ``cmd_export``. A third of
each batch reuses record ids offered by earlier batches, so the left-anti
upsert discards real work; the API keys held change per batch, so the
compliance gate quarantines a varying share. :class:`CatalogModel` knows
what every call must return and checks it outside the timed region.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

from common import dir_stats

SOURCES = ["NYC Open Data", "UN Comtrade", "SEC EDGAR", "College Scorecard"]
NEEDS_KEY = {"UN Comtrade", "College Scorecard"}
DATA_TYPE = {
    "NYC Open Data": "dataset",
    "UN Comtrade": "api_endpoint",
    "SEC EDGAR": "data_feed",
    "College Scorecard": "api_endpoint",
}
KEY_SETS = [set(), {"UN Comtrade"}, {"College Scorecard"}, set(NEEDS_KEY)]
CATEGORIES = ["Health", "Finance", "Education", "Trade", "Transport", "Housing"]
VOCAB = 2000
REUSE = 0.3


def word(rank: int) -> str:
    """Six-letter search token: "zq" + four base-26 letters. Tokens share a
    length and a prefix found nowhere else in a record, so ``%term%``
    matches a record exactly when the token is one of its words."""
    s = ""
    for _ in range(4):
        rank, r = divmod(rank, 26)
        s = chr(97 + r) + s
    return "zq" + s


class CatalogModel:
    """Generator of spool batches and the catalog state they must produce."""

    def __init__(self, seed: int, lines: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.lines = lines
        p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
        self.zipf = p / p.sum()
        self.offered: dict[str, list[str]] = {s: [] for s in SOURCES}
        self.next_id = {s: 0 for s in SOURCES}
        #: keys of every row generated so far, collected or not
        self.known: set[tuple[str, str]] = set()
        #: the catalog after the collected batches:
        #: (source, record_id) -> (batch, title, description, size_bytes)
        self.rows: dict[tuple[str, str], tuple[int, str, str | None, int | None]] = {}
        self.keys_by_batch: list[set[str]] = []

    def _text(self, lo: int, hi: int) -> str:
        n = int(self.rng.integers(lo, hi + 1))
        return " ".join(word(int(r)) for r in self.rng.choice(VOCAB, n, p=self.zipf))

    def batch(self, b: int, path: str) -> tuple[set[str], dict, dict]:
        """Write batch ``b`` to ``path``; returns (api keys, expected
        ``cmd_collect`` result, rows it inserts). Batches must be collected
        in the order they are generated; :meth:`apply` folds one in."""
        rng = self.rng
        keys = KEY_SETS[int(rng.integers(0, len(KEY_SETS)))]
        per = self.lines // len(SOURCES)
        expect = {"_inserted": 0, "_quarantined": 0}
        new_rows = {}
        with open(path, "w") as fh:
            for src in SOURCES:
                hist = self.offered[src]
                n_old = min(int(per * REUSE), len(hist))
                ids = [hist[i] for i in rng.choice(len(hist), n_old, replace=False)] if n_old else []
                for _ in range(per - n_old):
                    ids.append(f"{src[:3].upper()}-{self.next_id[src]:08d}")
                    self.next_id[src] += 1
                passing = src not in NEEDS_KEY or src in keys
                for rid in ids:
                    title = self._text(3, 6)
                    desc = self._text(5, 12) if rng.random() > 0.1 else None
                    size = int(rng.integers(1_000, 5_000_000)) if rng.random() > 0.1 else None
                    doc = {
                        "_source": src,
                        "id": rid,
                        "name": title,
                        "category": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
                        "columns_count": int(rng.integers(1, 60)),
                        "view_count": int(rng.integers(0, 100_000)),
                        "tags": [CATEGORIES[int(rng.integers(0, len(CATEGORIES)))].lower()],
                        "updated_at": (str(int(rng.integers(1_500_000_000, 1_700_000_000)))
                                       if rng.random() < 0.5 else "2024-03-01T12:00:00Z"),
                        "file_format": "CSV/JSON",
                    }
                    if desc is not None:
                        doc["description"] = desc
                    if size is not None:
                        doc["size_bytes"] = size
                    fh.write(json.dumps(doc) + "\n")
                    if passing and (src, rid) not in self.known:
                        new_rows[(src, rid)] = (b, title, desc, size)
                if passing:
                    expect[src] = len(ids)
                else:
                    expect["_quarantined"] += len(ids)
                hist.extend(ids[n_old:])
        expect["_inserted"] = len(new_rows)
        self.known.update(new_rows)
        return keys, expect, new_rows

    def apply(self, keys: set[str], new_rows: dict) -> None:
        self.keys_by_batch.append(keys)
        self.rows.update(new_rows)

    # -- expected read results ----------------------------------------------
    def search(self, term: str, source: str | None, data_type: str | None, k: int = 10):
        hits = [
            (-b, src, rid)
            for (src, rid), (b, title, desc, _) in self.rows.items()
            if (source is None or src == source)
            and (data_type is None or DATA_TYPE[src] == data_type)
            and (term in title.split() or (desc is not None and term in desc.split()))
        ]
        return [(s, r) for _, s, r in sorted(hits)[:k]]

    def per_source(self) -> dict[str, tuple[int, float | None]]:
        out = {}
        for src in SOURCES:
            sizes = [v[3] for (s, _), v in self.rows.items() if s == src]
            if sizes:
                known = [x for x in sizes if x is not None]
                out[src] = (len(sizes), round(sum(known) / len(known), 4) if known else None)
        return out

    def export(self, where: tuple[str, object]) -> tuple[list[str], int]:
        col, val = where
        sel = [
            s for (s, _), (_, _, _, size) in self.rows.items()
            if (col == "source_name" and s == val)
            or (col == "data_type" and DATA_TYPE[s] == val)
            or (col == "size_bytes" and size is not None and size > val)
        ]
        return sorted(set(sel)), len(sel)


def _col(result, name):
    cols, rows = result
    i = cols.index(name)
    return [r[i] for r in rows]


class CatalogRW:
    name = "catalog_rw"
    # one recorded cycle, whatever the host's speed: a varying cycle count
    # would move the figures, and the growing catalog makes later cycles
    # slower
    min_cycles = 1
    max_cycles = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.lines = 200 if ctx.small else 2000
        self.spool = os.path.join(ctx.work, "spool")
        self.model: CatalogModel | None = None
        self.pending: list[tuple[str, set[str], dict, dict]] = []
        self.batches = 0
        self.lines_in = 0
        self.quarantined = 0
        self.offered = 0
        self.inserted = 0
        self.exports: list[tuple[int, float]] = []

    def prepare(self, rep: int) -> None:
        """Input generation: the model and the first batches' spool files."""
        d = os.path.join(self.spool, f"rep{rep}")
        os.makedirs(d, exist_ok=True)
        self.model = CatalogModel(self.ctx.seed, self.lines)
        self.pending = []
        for b in range(2):
            path = os.path.join(d, f"batch{b:04d}.jsonl")
            self.pending.append((path, *self.model.batch(b, path)))

    def warmup(self) -> None:
        from ethical_data_ingestion_spark import cli

        cli.cmd_setup(self.ctx.spark)
        self.cycle(-1, record=False)

    def _next_batch(self):
        if self.pending:
            return self.pending.pop(0)
        path = os.path.join(self.spool, f"batch{self.batches:04d}.jsonl")
        return (path, *self.model.batch(self.batches, path))

    def cycle(self, i: int, record: bool = True) -> None:
        from ethical_data_ingestion_spark import cli

        ctx, spark, m = self.ctx, self.ctx.spark, self.model
        path, keys, expect, new_rows = self._next_batch()
        self.batches += 1
        got = ctx.op("collect", "cli.collect", lambda: cli.cmd_collect(spark, path, keys),
                     lazy=False, record=record)
        m.apply(keys, new_rows)
        if got is not None:
            ctx.check(got == expect, f"collect batch {self.batches}: {got} != {expect}")
            self.lines_in += self.lines
            self.quarantined += got.get("_quarantined", 0)
            self.offered += sum(v for k, v in got.items() if not k.startswith("_"))
            self.inserted += got.get("_inserted", 0)

        rng = m.rng
        # the recorded cycle searches three times as often as the warm-up:
        # searches are cheap, and more of them steady the run's median
        for band in ((0, 10), (10, 200), (200, VOCAB), (0, 200)) * (6 if record else 2):
            term = word(int(rng.integers(*band)))
            mode = int(rng.integers(0, 3))
            src = SOURCES[int(rng.integers(0, 4))] if mode == 1 else None
            dtype = DATA_TYPE[SOURCES[int(rng.integers(0, 4))]] if mode == 2 else None
            res = ctx.op("search", "operators.search",
                         lambda: cli.cmd_search(spark, term, src, dtype), record=record)
            if res is not None:
                found = list(zip(_col(res, "source_name"), _col(res, "record_id")))
                ctx.check(found == m.search(term, src, dtype), f"search {term} {src} {dtype}")

        exp = m.per_source()
        res = ctx.op("analytics", "operators.analytics", lambda: cli.cmd_analytics(spark),
                     record=record)
        if res is not None:
            stats, freq = res
            rc = dict(zip(_col(stats, "source_name"), _col(stats, "record_count")))
            avg = dict(zip(_col(stats, "source_name"), _col(stats, "avg_size")))
            ok = rc == {s: v[0] for s, v in exp.items()} and all(
                (avg[s] is None) == (v[1] is None) and (v[1] is None or abs(avg[s] - v[1]) < 1e-3)
                for s, v in exp.items())
            types: dict[str, int] = {}
            for s, v in exp.items():
                types[DATA_TYPE[s]] = types.get(DATA_TYPE[s], 0) + v[0]
            ok = ok and dict(zip(_col(freq, "data_type"), _col(freq, "count"))) == types
            ctx.check(ok, "analytics panels")

        res = ctx.op("status", "operators.analytics", lambda: cli.cmd_status(spark), record=record)
        if res is not None:
            last_keys = m.keys_by_batch[-1]
            want = sorted((s, v[0], s not in NEEDS_KEY or s in last_keys) for s, v in exp.items())
            have = sorted(zip(_col(res, "source_name"), _col(res, "record_count"), _col(res, "compliant")))
            ctx.check(have == want, "status")

        choice = int(rng.integers(0, 3))
        where = [("source_name", SOURCES[int(rng.integers(0, 4))]),
                 ("data_type", "api_endpoint"),
                 ("size_bytes", int(rng.integers(1_000_000, 4_000_000)))][choice]
        pred = f"{where[0]} > {where[1]}" if where[0] == "size_bytes" else f"{where[0]} = '{where[1]}'"
        out = os.path.join(ctx.work, "export", f"e{self.batches}")

        def do_export():
            footer = cli.cmd_export(spark, "parquet", out, pred)
            return [r[0] for r in footer.collect()]

        srcs = ctx.op("export", "export", do_export, lazy=False, record=record)
        if srcs is not None:
            want_srcs, want_rows = m.export(where)
            files = [os.path.join(b, n) for b, _, ns in os.walk(out) for n in ns if n.endswith(".parquet")]
            rows = sum(pq.read_metadata(f).num_rows for f in files)
            ctx.check(srcs == want_srcs and rows == want_rows, f"export {pred}")
            self.exports.append(dir_stats(out))

    def finish(self) -> dict[str, float]:
        files, mb = dir_stats(os.path.join(self.ctx.work, "warehouse", "data_records"))
        n = max(len(self.exports), 1)
        return {
            "catalog.table_files": files,
            "catalog.table_mb": mb,
            "catalog.insert_ratio": self.inserted / self.offered if self.offered else 0.0,
            "sources.quarantine_ratio": self.quarantined / self.lines_in if self.lines_in else 0.0,
            "export.files": sum(f for f, _ in self.exports) / n,
            "export.mb": sum(m for _, m in self.exports) / n,
            "lines_per_batch": self.lines,
        }
