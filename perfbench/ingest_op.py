"""The gated-ingest side op of ``archive_sync`` (``streaming.ingest``).

One seeded micro-batch of documents goes through one ``maintain_ingest``
closure with all five gates on: canonical URL, quality (the fixture
model), contamination (an index built from a disjoint eval set) and
MinHash near-dup, then the merge; ``compact_ingest_store`` follows it.
Both run inside ``archive_sync``'s measured window, as secondary ops: their
wall time counts in ``work_per_s`` and their CPU in ``cpu_s_per_op``.

Set-up (timed as program-side set-up): build the contamination and MinHash
indexes and seed the store with the archive documents through the verb
itself, so the URL and near-dup gates have an archive to probe.

Checks (after the window): every planted URL duplicate of the batch is
rejected and every clean document merged; the ledger conserves rows; a
redelivery of the documents the batch merged merges 0.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import time

from perfbench import docs_gen as D
from perfbench.harness import disk_bytes
from perfbench.metrics import GATES

BATCH_ID = 1


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, url string")


class IngestOp:
    def __init__(self, seed: int, root: str):
        self.corpus = D.corpus(seed, 1)  # input generation, untimed
        self.root = root
        self.paths = {k: os.path.join(root, k) for k in ("store", "mh", "ct")}
        self.process = None
        self.batch_s = self.compact_s = 0.0
        self.ledger0: dict = {}
        self.merged = 0  # documents in the store after the run
        self.removed = dict.fromkeys(GATES, 0.0)  # share of the batch each gate removed

    def setup(self, spark) -> None:
        from hnarchive_spark.sources.contamination_index import build_contamination_index
        from hnarchive_spark.sources.minhash_index import build_minhash_index
        from hnarchive_spark.streaming.ingest import maintain_ingest

        c, p = self.corpus, self.paths
        arch = _df(spark, c.archive)
        build_minhash_index(spark, arch.select("doc_id", "text"), p["mh"])
        build_contamination_index(spark, spark.createDataFrame(c.eval, "doc_id long, text string"),
                                  p["ct"])
        maintain_ingest(p["store"], url_col="url")(arch, 0)  # already in the MinHash index
        self.process = maintain_ingest(
            p["store"], quality_threshold_e4=D.QUALITY_THRESHOLD_E4,
            contamination_index_path=p["ct"], contamination_threshold_e4=0,
            minhash_index_path=p["mh"], jaccard_threshold=0.8, url_col="url",
        )

    def run(self, spark, tracer) -> None:
        """The measured batch, then the compaction."""
        from hnarchive_spark.streaming.index_maint import maintenance_stats
        from hnarchive_spark.streaming.ingest import compact_ingest_store

        self.ledger0 = dict(maintenance_stats(self.paths["store"]))
        df = _df(spark, self.corpus.batches[0])
        t = time.perf_counter()
        with tracer.span("ingest_batch"):
            self.process(df, BATCH_ID)
        self.batch_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("compact"):
            compact_ingest_store(spark, self.paths["store"])
        self.compact_s = time.perf_counter() - t

    def check(self, spark) -> tuple[int, int, dict]:
        """``(attempted, failed, info)`` of the three output checks."""
        from hnarchive_spark.streaming.index_maint import maintenance_stats
        from hnarchive_spark.streaming.ingest import read_ingested_docs

        c = self.corpus
        ledger1 = dict(maintenance_stats(self.paths["store"]))
        merged = {r["doc_id"] for r in
                  read_ingested_docs(spark, self.paths["store"]).select("doc_id").collect()}
        self.merged = len(merged)
        docs = c.batches[0]
        batch_ok = not (any(c.kinds[d[0]] == "url_dup" and d[0] in merged for d in docs)
                        or any(c.kinds[d[0]] == "clean" and d[0] not in merged for d in docs))
        fates = ("ingest_url_dup", "ingest_unscored", "ingest_quality_rejected",
                 "ingest_contaminated", "ingest_neardup", "ingest_merged", "ingest_skipped")
        conserved = ledger1["ingest_rows"] == sum(ledger1.get(k, 0) for k in fates)
        # redeliver what the batch merged: the gates would only reject the
        # others again (a full redelivery costs about a second batch)
        redelivered = self.process(_df(spark, [d for d in docs if d[0] in merged]), BATCH_ID)

        delta = {k: ledger1.get(k, 0) - self.ledger0.get(k, 0) for k in ledger1}
        rows = max(1, delta.get("ingest_rows", 0))
        self.removed = {
            "url": delta.get("ingest_url_dup", 0) / rows,
            "quality": (delta.get("ingest_quality_rejected", 0)
                        + delta.get("ingest_unscored", 0)) / rows,
            "contamination": delta.get("ingest_contaminated", 0) / rows,
            "neardup": delta.get("ingest_neardup", 0) / rows,
            "merge": delta.get("ingest_skipped", 0) / rows,
        }
        info = {
            "ingest_planted_share": {k: v / D.BATCH for k, v in D.MIX.items()},
            "ingest_removed_share": self.removed, "ingest_batch_docs": D.BATCH,
            "ingest_batch_s": round(self.batch_s, 3), "ingest_compact_s": round(self.compact_s, 3),
            "ingest_batch_check": "ok" if batch_ok else "MISMATCH",
            "ingest_ledger_conserved": conserved, "ingest_redelivery_merged": redelivered,
        }
        failed = (not batch_ok) + (not conserved) + (redelivered != 0)
        return 3, failed, info

    def stored_bytes(self) -> int:
        return disk_bytes(self.root)

    def fixture(self) -> bytes:
        c = self.corpus
        return json.dumps([c.archive, c.eval, c.batches]).encode()

    def layers(self, tracer, log) -> dict:
        batches = tracer.measured("ingest_batch")
        n = max(1, len(batches))
        gate = _gate_of_line()
        per = {g: [] for g in GATES}
        total = 0
        for sid in batches:
            jobs = sorted(log.jobs_in(tracer.subtree([sid])))
            total += len(jobs)
            current = "prep"
            for j in jobs:
                m = _SITE.search(log.jobs[j]["call_site"])
                g = gate(m.group(1), int(m.group(2))) if m else None
                current = g or current  # writes carry no Python call site
                if current in per:
                    per[current].append(j)
        out = {"ingest.jobs_per_batch": total / n}
        for g in GATES:
            tot = log.totals(per[g])
            out[f"ingest.{g}.jobs"] = tot["jobs"] / n
            out[f"ingest.{g}.exec_s"] = tot["run_s"] / n
            out[f"ingest.{g}.removed_share"] = self.removed[g]
        out["ingest.compact_s"] = self.compact_s
        return out


def _gate_of_line():
    """Map (file basename, line) of a job's Python call site to its gate:
    ``streaming/ingest.py`` by its ``# ---- stage N`` markers, the index
    modules by which of their functions holds the line."""
    from hnarchive_spark.sources import minhash_index
    from hnarchive_spark.streaming import ingest

    lines, start = inspect.getsourcelines(ingest)
    marks = []
    for i, ln in enumerate(lines, start=start):
        m = re.match(r"\s*# ---- stage (\d)", ln)
        if m:
            marks.append((i, GATES[int(m.group(1))]))
    app_lines, app_start = inspect.getsourcelines(minhash_index.append_minhash_index)
    app = range(app_start, app_start + len(app_lines))

    def gate(file: str, line: int):
        base = os.path.basename(file)
        if base == "ingest.py":
            g = None
            for i, name in marks:
                if line >= i:
                    g = name
            return g or "prep"
        if base == "minhash_index.py":
            return "merge" if line in app else "neardup"
        return {"contamination_index.py": "contamination", "quality.py": "quality",
                "urls.py": "url", "bloom.py": "contamination"}.get(base)

    return gate


_SITE = re.compile(r" at (\S+):(\d+)$")
