"""The benchmark's workloads: one measured pass each, and its checks.

A pass drives ``valar_spark``'s public functions from one thread, one
layer call per span. The checks run after the timed region and compare the
pass outputs against DuckDB queries over the same parquet files, against
numpy/Python recomputations, and against the generator's planted counts.
Each check names the layer call it judges; a failed check counts that call
as failed.
"""

from __future__ import annotations

import itertools
import os
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from valar_spark.config import ValidationConfig

ROLE_DOMAIN = ("system", "user", "assistant", "tool")

NUM_HASHES, BANDS, JACCARD_T = 128, 64, 0.5
EMB_T, EMB_CHUNK_BITS = 0.95, 16
# 8 lineage buckets, all in one runner batch: at this table size the
# per-batch jobs and per-bucket sink files, not the rows, would otherwise
# set the runner's time
CONFIG = ValidationConfig(num_buckets=8)


def ruleset():
    from valar_spark import rules as R

    return {
        "text": R.non_empty() & R.max_length(gen.MAX_TEXT),
        "turn_idx": R.non_negative(),
        "role": R.one_of(list(ROLE_DOMAIN)),
        "tool": R.optional(R.one_of(list(gen.TOOLS))),
    }


class Check:
    """Collects (call, ok, detail) results for one pass."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def eq(self, call: str, what: str, got, want) -> None:
        ok = got == want
        self.results.append((call, ok, "" if ok else f"{what}: got {got!r}, want {want!r}"))

    def true(self, call: str, what: str, cond: bool) -> None:
        self.results.append((call, bool(cond), "" if cond else what))


# ---------------------------------------------------------------------------
# transcripts: shared reference
# ---------------------------------------------------------------------------


def _expected_rule_counts(planted: dict) -> dict[str, int]:
    """Per-rule violation counts implied by the plants (rule ids as the
    library names them: ``<column>.<rule>``)."""
    return {
        "text.non_empty": planted["null_text"] + planted["empty_text"] + planted["blank_text"],
        "text.max_length": planted["null_text"] + planted["long_text"],
        "turn_idx.non_negative": planted["neg_turn_idx"],
        "role.one_of": planted["bad_role"],
    }


def duckdb_transcript_reference(turns: str, registry: str | None = None,
                                baseline: str | None = None) -> dict:
    """Independent counts over the stored parquet files."""
    con = duckdb.connect()
    t = f"read_parquet('{turns}/*.parquet')"
    roles = ", ".join(f"'{r}'" for r in ROLE_DOMAIN)
    tools = ", ".join(f"'{r}'" for r in gen.TOOLS)
    q = con.execute(f"""
        SELECT count(*),
          count(*) FILTER (WHERE text IS NULL
                           OR regexp_replace(text, '[\\x00-\\x20]', '', 'g') = ''),
          count(*) FILTER (WHERE text IS NULL OR length(text) > {gen.MAX_TEXT}),
          count(*) FILTER (WHERE turn_idx < 0),
          count(*) FILTER (WHERE role IS NULL OR role NOT IN ({roles})),
          count(*) FILTER (WHERE tool IS NOT NULL AND tool NOT IN ({tools})),
          count(*) FILTER (WHERE text IS NULL),
          count(*) FILTER (WHERE tool IS NULL)
        FROM {t}""").fetchone()
    ref = {
        "rows": q[0],
        "rules": {"text.non_empty": q[1], "text.max_length": q[2],
                  "turn_idx.non_negative": q[3], "role.one_of": q[4],
                  "tool.one_of": q[5]},
        "null_text": q[6], "null_tool": q[7],
    }
    dup, reg = con.execute(f"""
        WITH w AS (
          SELECT turn_idx, ts,
                 lag(turn_idx) OVER k AS p_idx, lag(ts) OVER k AS p_ts
          FROM {t}
          WINDOW k AS (PARTITION BY conv_id ORDER BY turn_idx, ts))
        SELECT count(*) FILTER (WHERE p_idx = turn_idx),
               count(*) FILTER (WHERE p_idx IS DISTINCT FROM turn_idx AND ts < p_ts)
        FROM w""").fetchone()
    ref["dup_rows"], ref["ts_regressions"] = dup, reg
    ref["dup_keys"] = con.execute(f"""
        SELECT count(*) FROM (SELECT conv_id, turn_idx FROM {t}
                              GROUP BY ALL HAVING count(*) > 1)""").fetchone()[0]
    if registry is not None:
        ref["orphans"] = sorted(r[0] for r in con.execute(f"""
            SELECT DISTINCT conv_id FROM {t}
            WHERE conv_id NOT IN (SELECT conv_id FROM read_parquet('{registry}/*.parquet'))
            """).fetchall())
    if baseline is not None:
        ref["baseline_rows"] = con.execute(
            f"SELECT count(*) FROM read_parquet('{baseline}/*.parquet')").fetchone()[0]
    con.close()
    return ref


def _rule_counts(df) -> dict[str, int]:
    return {r["rule_id"]: int(r["count"]) for r in df.groupBy("rule_id").count().collect()}


def _verdict_totals(rows) -> tuple[dict[str, int], dict[str, int]]:
    viol: dict[str, int] = {}
    checked: dict[str, int] = {}
    for r in rows:
        viol[r["rule_id"]] = viol.get(r["rule_id"], 0) + int(r["violation_count"])
        checked[r["rule_id"]] = checked.get(r["rule_id"], 0) + int(r["rows_checked"])
    return viol, checked


def _nonzero(d: dict[str, int]) -> dict[str, int]:
    return {k: v for k, v in d.items() if v}


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------


def _verdict_rows(rows) -> list[tuple]:
    """(bucket, rule, violations, rows) of every bucket that has rows."""
    return sorted((int(r["partition_id"]), r["rule_id"], int(r["violation_count"]),
                   int(r["rows_checked"])) for r in rows if r["rows_checked"])


class Transcripts:
    """The gate a scheduled job runs before publishing a transcript table
    (row rules and verdicts, dataset rules, drift against a baseline), then
    the checkpointed run that persists the verdicts and the day-2 change
    detection."""

    name = "transcripts"

    def __init__(self, n_turns: int = 30_000):
        self.n_turns = n_turns
        self.work_root = None
        self._n = 0

    def prepare(self, cache_dir: str, seed: int) -> dict:
        self.meta = gen.transcripts(cache_dir, seed, self.n_turns)
        self.dir = os.path.join(cache_dir, f"transcripts-s{seed}-n{self.n_turns}")
        self.rows = self.meta["planted"]["rows"]
        return self.meta

    def open(self, spark) -> dict:
        return {k: spark.read.parquet(os.path.join(self.dir, k))
                for k in ("turns", "registry", "baseline", "day2")}

    def run_pass(self, spark, inp: dict, tr) -> dict:
        from pyspark.sql import functions as F

        from valar_spark import dataset_rules as D
        from valar_spark import drift, validate
        from valar_spark.runner import (RunnerConfig, bucket_fingerprints,
                                        changed_buckets, run_checkpointed)
        from valar_spark.validate import RuleSet

        t = inp["turns"]
        out = {}
        with tr.span("validate.row_rules", "validate"):
            run = validate(t, ruleset(), config=CONFIG)
            out["rules"] = _rule_counts(run.violations)
        with tr.span("validate.verdicts", "validate"):
            out["verdicts"] = [r.asDict() for r in run.verdicts.collect()]
        with tr.span("dataset_rules.integrity", "dataset_rules"):
            out["integrity"] = _rule_counts(D.transcript_integrity_violations(t))
        with tr.span("dataset_rules.referential", "dataset_rules"):
            out["orphans"] = sorted(
                r["conv_id"] for r in D.referential_violations(
                    t, "conv_id", inp["registry"], broadcast_parent=False)
                .select("conv_id").collect())
        with tr.span("dataset_rules.profile", "dataset_rules"):
            out["profile"] = {r["column"]: (int(r["rows"]), int(r["null_count"]))
                              for r in D.stats_profile(t).collect()}
        with tr.span("drift.psi_ks", "drift"):
            cur = t.select(F.length("text").alias("text_len"))
            base = inp["baseline"].select(F.length("text").alias("text_len"))
            out["psi"] = drift.psi(cur, base, "text_len")
            out["ks"] = drift.ks_binned(cur, base, "text_len")
        self._n += 1
        wd = os.path.join(self.work_root, f"pass{self._n}")
        shutil.rmtree(wd, ignore_errors=True)
        rs = RuleSet(ruleset(), CONFIG)
        with tr.span("runner.full", "runner"):
            out["run"] = run_checkpointed(t, rs, RunnerConfig(
                work_dir=wd, run_id="day1", buckets_per_job=CONFIG.num_buckets))
        out["work_dir"] = wd
        with tr.span("runner.fingerprints", "runner"):
            out["dirty"] = sorted(r["partition_id"] for r in changed_buckets(
                bucket_fingerprints(inp["day2"], num_buckets=CONFIG.num_buckets),
                bucket_fingerprints(t, num_buckets=CONFIG.num_buckets)).collect())
        return out

    def counters(self, out: dict) -> dict:
        n_bytes = n_files = 0
        for root, _dirs, names in os.walk(out["work_dir"]):
            for n in names:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, n))
        return {"validate.violation_rows": sum(out["rules"].values()),
                "runner.bytes_written": n_bytes, "runner.files_written": n_files,
                "runner.buckets_changed": len(out["dirty"])}

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["work_dir"], ignore_errors=True)

    def reference(self, spark) -> dict:
        import json

        from pyspark.sql import functions as F

        ref = duckdb_transcript_reference(
            os.path.join(self.dir, "turns"), os.path.join(self.dir, "registry"),
            os.path.join(self.dir, "baseline"))
        # the lineage bucket is documented as pmod(xxhash64(conv_id), buckets);
        # recompute it with Spark builtins for the conversations day 2 changed
        with open(os.path.join(self.dir, "day2_changed.json")) as f:
            changed = json.load(f)
        ref["dirty"] = sorted({r[0] for r in spark.createDataFrame(
            [(c,) for c in changed], "conv_id string").select(
                F.pmod(F.xxhash64("conv_id"), F.lit(CONFIG.num_buckets)).cast("int"))
            .collect()})
        return ref

    def check(self, out: dict, ref: dict, planted: dict) -> list:
        c = Check()
        want = _nonzero(_expected_rule_counts(planted))
        c.eq("validate.row_rules", "rule counts vs DuckDB", out["rules"], _nonzero(ref["rules"]))
        c.eq("validate.row_rules", "rule counts vs planted", out["rules"], want)
        viol, checked = _verdict_totals(out["verdicts"])
        c.eq("validate.verdicts", "verdict violations vs DuckDB", _nonzero(viol), _nonzero(ref["rules"]))
        c.true("validate.verdicts", "every rule checked every row",
               set(checked.values()) == {ref["rows"]} and set(checked) == set(ref["rules"]))
        c.true("validate.verdicts", "pass == (violation_count == 0)",
               all(r["pass"] == (r["violation_count"] == 0) for r in out["verdicts"]))
        integ = out["integrity"]
        c.eq("dataset_rules.integrity", "duplicate rows vs DuckDB",
             integ.get("dataset.uniqueness", 0), ref["dup_rows"])
        c.eq("dataset_rules.integrity", "duplicate keys vs planted",
             (ref["dup_keys"], ref["dup_rows"]), (planted["dup_keys"],) * 2)
        c.eq("dataset_rules.integrity", "ts regressions vs DuckDB",
             integ.get("dataset.ordering", 0), ref["ts_regressions"])
        c.eq("dataset_rules.integrity", "ts regressions vs planted",
             ref["ts_regressions"], planted["ts_regressions"])
        c.eq("dataset_rules.referential", "orphan conv_ids vs DuckDB", out["orphans"], ref["orphans"])
        c.eq("dataset_rules.referential", "orphans vs planted",
             len(out["orphans"]), planted["orphan_convs"])
        prof = out["profile"]
        c.eq("dataset_rules.profile", "rows / null text / null tool",
             (prof["text"][0], prof["text"][1], prof["tool"][1]),
             (ref["rows"], ref["null_text"], ref["null_tool"]))
        psi, ks = out["psi"], out["ks"]
        c.true("drift.psi_ks", "planted length shift detected by psi and ks",
               psi.drifted and ks.drifted)
        c.eq("drift.psi_ks", "psi/ks sample sizes",
             (psi.n_current, psi.n_baseline, ks.n_current, ks.n_baseline),
             (ref["rows"] - ref["null_text"], ref["baseline_rows"]) * 2)
        res = out["run"]
        sink = _rule_counts(res.violations)
        c.eq("runner.full", "sink violations vs planted", sink, want)
        c.eq("runner.full", "sink violations vs DuckDB", sink, _nonzero(ref["rules"]))
        c.eq("runner.full", "state-table verdicts vs in-memory verdicts",
             _verdict_rows(res.verdicts.collect()), _verdict_rows(out["verdicts"]))
        c.eq("runner.full", "rows checked", res.rows_checked, ref["rows"])
        c.eq("runner.fingerprints", "changed buckets vs buckets of the changed conversations",
             out["dirty"], ref["dirty"])
        return c.results


# ---------------------------------------------------------------------------
# docs_curate
# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class DocsDedup:
    """Near-duplicate detection over a document corpus: MinHash LSH
    candidates verified by exact Jaccard, SimHash pairs and embedding
    near-duplicate pairs."""

    name = "docs_dedup"

    def __init__(self, n_docs: int = 10_000):
        self.n_docs = n_docs

    def prepare(self, cache_dir: str, seed: int) -> dict:
        self.meta = gen.documents(cache_dir, seed, self.n_docs)
        self.dir = os.path.join(cache_dir, f"documents-s{seed}-n{self.n_docs}")
        self.rows = self.meta["planted"]["docs"]
        return self.meta

    def open(self, spark) -> dict:
        return {"docs": spark.read.parquet(os.path.join(self.dir, "docs"))}

    def run_pass(self, spark, inp: dict, tr) -> dict:
        from pyspark.sql import functions as F

        from valar_spark import ann
        from valar_spark import textops as X

        docs = inp["docs"]
        out = {}
        with tr.span("textops.shingle_sets", "textops"):
            sets = X.shingle_hash_sets(docs, persist=True)
            sets.count()
        with tr.span("textops.candidates", "textops"):
            cand = X.minhash_candidates(docs, num_hashes=NUM_HASHES, bands=BANDS,
                                        sets=sets).persist()
            out["candidate_pairs"] = cand.count()
        with tr.span("textops.verify", "textops"):
            pairs = X.jaccard_pairs(docs, threshold=JACCARD_T, candidates=cand, sets=sets)
            out["verified"] = {(int(r["id_a"]), int(r["id_b"])): float(r["jaccard"])
                               for r in pairs.collect()}
        with tr.span("textops.simhash", "textops"):
            out["simhash"] = {(int(r["id_a"]), int(r["id_b"]))
                              for r in X.simhash_near_pairs(docs).collect()}
        with tr.span("ann.embedding_pairs", "ann"):
            vecs = docs.select(F.col("doc_id").alias("vec_id"), "embedding")
            out["ann"] = {(int(r["id_a"]), int(r["id_b"])) for r in
                          ann.embedding_near_dup_pairs(
                              vecs, threshold=EMB_T, chunk_bits=EMB_CHUNK_BITS)
                          .select("id_a", "id_b").collect()}
        return out

    def counters(self, out: dict) -> dict:
        n_cand, n_ver = out["candidate_pairs"], len(out["verified"])
        return {"textops.candidate_pairs": n_cand, "textops.verified_pairs": n_ver,
                "textops.candidate_yield": n_ver / n_cand if n_cand else 0.0}

    def cleanup(self, out: dict) -> None:
        pass

    def reference(self, spark) -> dict:
        import json

        tbl = pq.read_table(os.path.join(self.dir, "docs"), columns=["doc_id", "text", "embedding"])
        ids = tbl.column("doc_id").to_numpy()
        texts = dict(zip(ids.tolist(), tbl.column("text").to_pylist()))
        emb = np.stack(tbl.column("embedding").to_numpy(zero_copy_only=False))
        with open(os.path.join(self.dir, "planted_pairs.json")) as f:
            planted = json.load(f)
        ref = {"pairs": [], "exact": [], "texts": texts,
               "row_of": {int(i): k for k, i in enumerate(ids.tolist())}, "emb": emb}
        for (a, b), exact in zip(planted["pairs"], planted["exact"]):
            sa, sb = _shingles(texts[a]), _shingles(texts[b])
            j = round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0
            key = (min(a, b), max(a, b))
            ref["pairs"].append((key, j))
            if exact:
                ref["exact"].append(key)
        return ref

    def check(self, out: dict, ref: dict, planted: dict) -> list:
        c = Check()
        ver = out["verified"]
        above = [(k, j) for k, j in ref["pairs"] if j >= JACCARD_T]
        missing = [k for k, _j in above if k not in ver]
        c.true("textops.verify", f"planted near-duplicates above {JACCARD_T} all verified "
               f"({len(missing)} of {len(above)} missing)", not missing and above)
        bad_j = [k for k, j in above if k in ver and abs(ver[k] - j) > 1e-6]
        c.true("textops.verify", f"{len(bad_j)} planted pairs with a wrong Jaccard", not bad_j)
        sample = list(itertools.islice(ver.items(), 2_000))
        wrong = []
        for (a, b), j in sample:
            sa, sb = _shingles(ref["texts"][a]), _shingles(ref["texts"][b])
            if abs(len(sa & sb) / len(sa | sb) - j) > 1e-6 or j < JACCARD_T:
                wrong.append((a, b))
        c.true("textops.verify", f"{len(wrong)} verified pairs fail an exact recount", not wrong)
        c.true("textops.candidates", "candidates cover the verified pairs",
               out["candidate_pairs"] >= len(ver))
        miss_sim = [k for k in ref["exact"] if k not in out["simhash"]]
        c.true("textops.simhash", f"{len(miss_sim)} verbatim copies missing from simhash pairs",
               not miss_sim)
        miss_emb = [k for k, _j in ref["pairs"] if k not in out["ann"]]
        c.true("ann.embedding_pairs", f"{len(miss_emb)} planted embedding copies missing",
               not miss_emb)
        emb, row = ref["emb"], ref["row_of"]
        if out["ann"]:
            a = np.array([row[p[0]] for p in out["ann"]])
            b = np.array([row[p[1]] for p in out["ann"]])
            va, vb = emb[a].astype(np.float64), emb[b].astype(np.float64)
            cos = (va * vb).sum(1) / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))
            c.true("ann.embedding_pairs", "every embedding pair has cosine >= threshold",
                   bool((cos >= EMB_T - 1e-5).all()))
        return c.results


WORKLOADS = {w.name: w for w in (Transcripts, DocsDedup)}
