"""The three workloads: one unit of work each, driven through the library's
public functions in the order ``dedup/cli.py`` uses, plus the output checks
that decide whether a unit succeeded.

Each workload also has a *traced* recomposition of its unit: the same public
calls, with each function's output forced at its boundary inside a span so
per-layer time can be attributed (see ``trace.py``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from dedup.config import DedupConfig

# The CLI's configuration: it exposes no flag for band_bucket_cap or
# substring_chunk, so both keep their defaults; the corpora carry the skew
# that makes the cap-drop, salted-join and anchor-tiling paths run.
CONFIG = DedupConfig()

WHY = {
    "batch": "flagship run_dedup job, fresh warehouse, CLI defaults: at this "
             "scale its ~55 Spark jobs of LSH joins, clustering and warehouse "
             "writes outweigh the signature kernel; suffix idle",
    "substring": "CLI --substring pass alone: suffix fingerprint, candidate "
                 "and verify spans dominate; minhash, lsh and cluster idle",
    "stream": "one CLI --stream round over a restored base snapshot: "
              "streaming driver overhead, small warehouse appends and a full "
              "checkpoint decode, little kernel work",
}

RECALL_FLOOR = 0.99


@dataclass
class Verdict:
    ok: bool
    recall: float
    digest: str
    problems: list[str] = field(default_factory=list)


def _digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update("\x1f".join(map(str, r)).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_labels(labels: pd.DataFrame, expected: set[str], truth: pd.DataFrame,
                 problems: list[str]) -> float:
    """Every input doc_key labelled exactly once, cluster_id = the minimum
    member, and the share of strong planted pairs (exact Jaccard >= 0.9)
    that land in one cluster. Returns that recall."""
    keys = labels["doc_key"]
    if keys.duplicated().any():
        problems.append(f"{int(keys.duplicated().sum())} doc_keys labelled "
                        "more than once")
    got = set(keys)
    if got != expected:
        problems.append(f"label set differs from input: {len(expected - got)} "
                        f"missing, {len(got - expected)} unexpected")
    mins = labels.groupby("cluster_id")["doc_key"].min()
    bad = int((mins.index != mins.values).sum())
    if bad:
        problems.append(f"{bad} clusters whose id is not their minimum member")
    lab = dict(zip(labels["doc_key"], labels["cluster_id"]))
    strong = truth[truth["kind"].isin(["exact", "near", "licence"])
                   & (truth["jaccard"] >= 0.9)]
    found = sum(lab.get(a) is not None and lab.get(a) == lab.get(b)
                for a, b in zip(strong["key_a"], strong["key_b"]))
    recall = found / max(len(strong), 1)
    if recall < RECALL_FLOOR:
        problems.append(f"recall {recall:.4f} below floor {RECALL_FLOOR}")
    return recall


def _keys(corpus: pd.DataFrame) -> set[str]:
    from perfbench.corpus import doc_key

    return {doc_key(r, p, c) for r, p, c in
            zip(corpus["repo"], corpus["path"], corpus["commit"])}


class Workload:
    name = ""
    # spans and kernels a traced unit must produce; a missing one fails the
    # traced run instead of reading 0 (a renamed span or kernel, say)
    spans: tuple[str, ...] = ()
    kernels: tuple[str, ...] = ()

    def __init__(self, layout: dict, work: str, cfg: DedupConfig = CONFIG):
        self.layout, self.work = layout, work
        self.cfg = cfg
        self.cfg_hash = self.cfg.config_hash()
        self.truth = pd.read_parquet(layout["truth"])
        self._n = 0

    def unit_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, f"unit-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    # overridden: prepared/prepare (once per checkout), before (untimed),
    # unit, check
    def prepared(self) -> bool:
        return True

    def prepare(self, spark) -> None:
        pass

    def before(self, spark, d: str) -> None:
        pass


class Batch(Workload):
    """``run_dedup(..., warehouse=<fresh dir>)`` — what the CLI does without
    --stream/--substring."""

    name = "batch"
    spans = ("pipeline.exact_stage", "minhash.compute_signatures",
             "pipeline.signature_blocks", "pipeline.decode_signature_blocks",
             "minhash.compute_bands", "lsh.candidate_pairs",
             "verify.verified_pairs", "cluster.connected_components",
             "cluster.attach_singletons", "warehouse.write",
             "warehouse.append", "warehouse.record_metrics",
             "warehouse.record_lineage")
    kernels = ("minhash.compute_signatures", "pipeline.signature_blocks",
               "pipeline.decode_signature_blocks", "minhash.compute_bands")

    def __init__(self, layout: dict, work: str, cfg: DedupConfig = CONFIG):
        super().__init__(layout, work, cfg)
        corpus = pd.read_parquet(layout["corpus"])
        self.docs = len(corpus)
        self.expected = _keys(corpus)

    def unit(self, spark, d: str) -> None:
        from dedup.pipeline import run_dedup
        from dedup.warehouse import Warehouse

        wh = Warehouse(spark, os.path.join(d, "wh"))
        run_dedup(spark, spark.read.parquet(self.layout["corpus"]), self.cfg,
                  warehouse=wh)

    def traced_unit(self, spark, d: str, tr) -> dict:
        from pyspark.sql import functions as F

        from dedup.cluster import attach_singletons, connected_components
        from dedup.lsh import candidate_pairs, lsh_audit
        from dedup.minhash import compute_bands, compute_signatures
        from dedup.pipeline import (SIG_STAGE, decode_signature_blocks,
                                    exact_stage, key_docs, signature_blocks,
                                    signature_input)
        from dedup.session import materialize
        from dedup.verify import verified_pairs
        from dedup.warehouse import Warehouse

        cfg, h = self.cfg, self.cfg_hash
        force = tr.force
        wh = Warehouse(spark, os.path.join(d, "wh"))
        table = "checkpoint_signatures"
        # run_dedup's recomposition for a fresh warehouse; each stage's
        # record_metrics call keeps its place in the sequence
        tr.begin_unit(wh.root)
        keyed = key_docs(spark.read.parquet(self.layout["corpus"]))
        t0 = time.time()
        with tr.span("pipeline.exact_stage"):
            rep_docs, exact_pairs = exact_stage(keyed)
            rep_docs = force(signature_input(rep_docs, cfg))
            exact_pairs = force(exact_pairs)
        with tr.span("warehouse.record_metrics"):
            wh.record_metrics("exact", h, int((time.time() - t0) * 1000))
        t0 = time.time()
        with tr.span("minhash.compute_signatures"):
            sig_rows = force(compute_signatures(rep_docs, cfg))
        with tr.span("pipeline.signature_blocks"):
            blocks = force(signature_blocks(sig_rows, cfg)
                           .where(F.col("rows_used") > 0))
        with tr.span("warehouse.append"):
            wh.append(blocks, table)
        sel = (F.col("stage") == SIG_STAGE) & (F.col("config_hash") == h)
        with tr.span("warehouse.record_lineage"):
            # the appended row count that signatures_with_resume records
            new_rows = int(wh.read(table).where(sel)
                           .agg(F.coalesce(F.sum("n"), F.lit(0)))
                           .collect()[0][0])
            wh.record_lineage(SIG_STAGE, h, "appended", new_rows, table)
        with tr.span("pipeline.decode_signature_blocks"):
            sigs = materialize(
                decode_signature_blocks(wh.read(table).where(sel), cfg)
                .dropDuplicates(["doc_key"]), eager=False)
            n_sigs = sigs.count()
        with tr.span("warehouse.record_metrics"):
            wh.record_metrics(SIG_STAGE, h, int((time.time() - t0) * 1000),
                              rows_out=n_sigs)
        t0 = time.time()
        with tr.span("minhash.compute_bands"):
            bands = force(compute_bands(sigs, cfg))
        with tr.span("lsh.candidate_pairs"):
            pairs, dropped = candidate_pairs(bands, cfg,
                                             materialize_bands=False)
            pairs = force(pairs)
            n_dropped = dropped.agg(F.coalesce(
                F.sum(F.expr("bucket_size * (bucket_size - 1) DIV 2")),
                F.lit(0))).collect()[0][0]
        with tr.span("warehouse.record_metrics"):
            wh.record_metrics("lsh", h, int((time.time() - t0) * 1000),
                              dropped_candidates=int(n_dropped))
        t0 = time.time()
        with tr.span("verify.verified_pairs"):
            ver = force(verified_pairs(pairs, sigs, cfg))
        with tr.span("warehouse.record_metrics"):
            wh.record_metrics("verify", h, int((time.time() - t0) * 1000))
        t0 = time.time()
        with tr.span("cluster.connected_components"):
            comps = force(connected_components(
                exact_pairs.unionByName(ver.select("key_a", "key_b"))))
        with tr.span("cluster.attach_singletons"):
            clusters = force(attach_singletons(comps, keyed))
        with tr.span("warehouse.record_metrics"):
            wh.record_metrics("cluster", h, int((time.time() - t0) * 1000))
        with tr.span("warehouse.write"):
            wh.write(clusters, "clusters", h)
        tr.end_unit()
        # ratio counters, read from the forced boundaries after the unit
        audit = lsh_audit(bands, cfg).collect()[0]
        slots = audit["eligible_pair_slots"] + audit["dropped_pair_slots"]
        n_pairs = pairs.count()
        return {
            "pipeline.exact_stage.fold_ratio": rep_docs.count() / self.docs,
            "pipeline.signature_blocks.bytes_per_doc":
                blocks.agg(F.sum(F.octet_length("payload"))).collect()[0][0]
                / max(n_sigs, 1),
            "lsh.dropped_slot_share": audit["dropped_pair_slots"] / max(slots, 1),
            "verify.yield": ver.count() / max(n_pairs, 1),
        }

    def check(self, spark, d: str) -> Verdict:
        from dedup.warehouse import Warehouse

        labels = Warehouse(spark, os.path.join(d, "wh")).read(
            "clusters").toPandas()
        problems: list[str] = []
        recall = check_labels(labels, self.expected, self.truth, problems)
        digest = _digest(list(zip(labels["doc_key"], labels["cluster_id"])))
        return Verdict(not problems, recall, digest, problems)


class Substring(Workload):
    """The CLI's batch ``--substring`` pass alone: exact_stage reps through
    ``suffix.substring_pairs``, then ``Warehouse.write``."""

    name = "substring"
    spans = ("pipeline.exact_stage", "suffix.fingerprints",
             "suffix.anchored_candidates", "suffix.verified_substring_pairs",
             "warehouse.write")
    kernels = ("suffix.fingerprints", "suffix.verified_substring_pairs")

    def __init__(self, layout: dict, work: str, cfg: DedupConfig = CONFIG):
        super().__init__(layout, work, cfg)
        self.docs = len(pd.read_parquet(layout["corpus"], columns=["repo"]))

    def unit(self, spark, d: str) -> None:
        from dedup.pipeline import exact_stage, key_docs
        from dedup.suffix import substring_pairs
        from dedup.warehouse import Warehouse

        wh = Warehouse(spark, os.path.join(d, "wh"))
        df = spark.read.parquet(self.layout["corpus"])
        reps, _ = exact_stage(key_docs(df), need_pairs=False)
        wh.write(substring_pairs(reps, self.cfg), "substring_pairs",
                 self.cfg_hash)

    def traced_unit(self, spark, d: str, tr) -> dict:
        from pyspark.sql import functions as F

        from dedup.pipeline import exact_stage, key_docs
        from dedup.suffix import (anchored_candidates, fingerprints,
                                  verified_substring_pairs)
        from dedup.warehouse import Warehouse

        cfg, force = self.cfg, tr.force
        wh = Warehouse(spark, os.path.join(d, "wh"))
        tr.begin_unit(wh.root)
        df = spark.read.parquet(self.layout["corpus"])
        with tr.span("pipeline.exact_stage"):
            reps = force(exact_stage(key_docs(df), need_pairs=False)[0])
        # substring_pairs' recomposition
        with tr.span("suffix.fingerprints"):
            fps = force(fingerprints(reps, cfg))
        with tr.span("suffix.anchored_candidates"):
            cand = force(anchored_candidates(fps, cfg))
        with tr.span("suffix.verified_substring_pairs"):
            docs = reps.select(F.col("doc_key"), F.col("content"))
            out = force(verified_substring_pairs(cand, docs, cfg))
        with tr.span("warehouse.write"):
            wh.write(out, "substring_pairs", self.cfg_hash)
        tr.end_unit()
        return {
            "pipeline.exact_stage.fold_ratio": reps.count() / self.docs,
            "suffix.verify_yield": out.count() / max(cand.count(), 1),
        }

    def check(self, spark, d: str) -> Verdict:
        from dedup.warehouse import Warehouse

        rows = Warehouse(spark, os.path.join(d, "wh")).read(
            "substring_pairs").toPandas()
        problems: list[str] = []
        short = int((rows["lcs_len"] < self.cfg.substring_min_len).sum())
        if short:
            problems.append(f"{short} substring rows with lcs_len < "
                            f"{self.cfg.substring_min_len}")
        if (rows["key_a"] >= rows["key_b"]).any():
            problems.append("substring pair not ordered key_a < key_b")
        if rows.duplicated(["key_a", "key_b"]).any():
            problems.append("duplicate substring pairs")
        got = set(zip(rows["key_a"], rows["key_b"]))
        planted = self.truth[self.truth["kind"] == "substring"]
        found = sum((a, b) in got for a, b in zip(planted["key_a"],
                                                   planted["key_b"]))
        recall = found / max(len(planted), 1)
        if recall < RECALL_FLOOR:
            problems.append(f"recall {recall:.4f} below floor {RECALL_FLOOR}")
        digest = _digest(list(zip(rows["key_a"], rows["key_b"],
                                  rows["lcs_len"])))
        return Verdict(not problems, recall, digest, problems)


class Stream(Workload):
    """One CLI ``--stream`` round: a restored base snapshot, one landed
    parquet file of new docs, ``ingest_stream``, ``stream_clusters`` and the
    ``clusters`` write."""

    name = "stream"
    spans = ("streaming.ingest_stream", "streaming.stream_clusters",
             "warehouse.write", "warehouse.append")
    kernels = ("minhash.compute_signatures", "pipeline.decode_signature_blocks")

    def __init__(self, layout: dict, work: str, cfg: DedupConfig = CONFIG):
        super().__init__(layout, work, cfg)
        base = pd.read_parquet(layout["corpus"])
        new = pd.read_parquet(layout["round"])
        self.docs = len(new)
        self.expected = _keys(base) | _keys(new)
        self.snapshot = layout["snapshot"]

    def _paths(self, d: str) -> tuple[str, str, str]:
        return (os.path.join(d, "input"), os.path.join(d, "wh"),
                os.path.join(d, "wh", "_stream_ckpt"))

    def _round(self, spark, d: str) -> None:
        from dedup.streaming import ingest_stream, stream_clusters
        from dedup.warehouse import Warehouse

        inp, root, ckpt = self._paths(d)
        wh = Warehouse(spark, root)
        ingest_stream(spark, inp, wh, self.cfg, ckpt)
        wh.write(stream_clusters(spark, wh, self.cfg), "clusters",
                 self.cfg_hash)

    def unit_dir(self) -> str:
        # the stream checkpoint records absolute input-file paths, so every
        # round runs in the same live directory, restored from the snapshot
        return self.layout["live"]

    def prepared(self) -> bool:
        return os.path.exists(self.snapshot)

    def prepare(self, spark) -> None:
        """Ingest the base corpus once (a CLI --stream invocation over the
        base files) and keep the input dir, warehouse and stream checkpoint
        as the snapshot every round restores."""
        live = self.unit_dir()
        shutil.rmtree(live, ignore_errors=True)
        shutil.copytree(self.layout["corpus"], self._paths(live)[0])
        self._round(spark, live)
        tmp = self.snapshot + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(live, tmp)
        os.replace(tmp, self.snapshot)

    def before(self, spark, d: str) -> None:
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.snapshot, d)
        # write beside the input dir, land by rename: the unit's clock starts
        # when the file appears
        shutil.copy(self.layout["round"], os.path.join(d, "round.tmp"))

    def land(self, d: str) -> None:
        inp, _, _ = self._paths(d)
        os.replace(os.path.join(d, "round.tmp"),
                   os.path.join(inp, "round-1.parquet"))

    def unit(self, spark, d: str) -> None:
        self.land(d)
        self._round(spark, d)

    def traced_unit(self, spark, d: str, tr) -> dict:
        from dedup.streaming import ingest_stream, stream_clusters
        from dedup.warehouse import Warehouse

        inp, root, ckpt = self._paths(d)
        wh = Warehouse(spark, root)
        tr.begin_unit(root)
        self.land(d)
        with tr.span("streaming.ingest_stream"):
            ingest_stream(spark, inp, wh, self.cfg, ckpt)
        with tr.span("streaming.stream_clusters"):
            labels = stream_clusters(spark, wh, self.cfg)
        with tr.span("warehouse.write"):
            wh.write(labels, "clusters", self.cfg_hash)
        tr.end_unit()
        return {}

    def check(self, spark, d: str) -> Verdict:
        from dedup.warehouse import Warehouse

        labels = Warehouse(spark, self._paths(d)[1]).read(
            "clusters").toPandas()
        problems: list[str] = []
        recall = check_labels(labels, self.expected, self.truth, problems)
        digest = _digest(list(zip(labels["doc_key"], labels["cluster_id"])))
        return Verdict(not problems, recall, digest, problems)


WORKLOADS = {w.name: w for w in (Batch, Substring, Stream)}
