"""Seeded input generators for the benchmark (numpy + pyarrow only).

The inputs are built here, not by ``valar_spark.synth``, so a change to the
library's own synthetic generator can never change what the benchmark
measures. Every input is a pure function of ``(seed, size)``: it is written
once under the cache directory and reused by later runs with the same seed.

Each generator returns a ``meta`` dict with the exact planted counts (the
correctness checks compare against them) and a sha256 over the written
files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

EPOCH_US = 1_700_000_000 * 1_000_000
TURN_GAP_US = 10 * 1_000_000
REGRESSION_US = 5_000 * 1_000_000      # far more than one turn gap
TOOLS = ("search", "code", "browser", "none")
BAD_ROLE = "narrator"
MAX_TEXT = 8_000                        # the max_length rule's bound
LONG_TEXT = 8_200
HEAVY_TURNS = 2_000
N_FILES = 16

# row-level plants: mutually exclusive, drawn only on turns >= 1
P_NULL, P_EMPTY, P_BLANK, P_LONG, P_BAD_ROLE = 0.005, 0.005, 0.005, 0.0005, 0.003
# conversation-level plants
P_NEG_CONV = 0.02        # turn 0 gets turn_idx = -1
P_REGRESS_CONV = 0.02    # one turn >= 1 gets its ts moved back
P_ORPHAN_CONV = 0.01     # conv_id missing from the parent registry
P_DUP_ROW = 0.002        # exact copies of clean rows (duplicate keys)
P_DAY2_CONV = 0.02        # day-2 snapshot: conversations with one new turn
BASELINE_LEN_SHIFT = 20  # baseline text is this many chars longer

NEAR_DUP_FRAC = 0.10     # share of originals that get a copy
EXACT_COPY_FRAC = 0.2    # share of those copies that are verbatim
TOKEN_EDIT_RATE = 0.03   # per-token substitution rate of the edited copies
BOILERPLATE_FRAC = 0.02  # share of documents carrying the boilerplate line
BOILERPLATE = ("confidential notice this message may contain privileged "
               "material please do not forward")
EMB_DIM = 64
EMB_NOISE = 1e-3         # near-copy embedding = original + this much noise


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def _files(d: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(d):
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


def cached(cache_dir: str, name: str, build) -> dict:
    """Build ``name`` under ``cache_dir`` once; later calls read its meta.

    ``build(tmp_dir)`` writes the input and returns its meta dict. The
    directory is renamed into place only when complete, so an interrupted
    build is rebuilt instead of being reused half-written."""
    final = os.path.join(cache_dir, name)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    meta["sha256"] = _digest(_files(tmp))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return meta


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------


def _conv_lengths(rng: np.random.Generator, n_turns: int) -> tuple[np.ndarray, int]:
    """Conversation lengths: uniform 2..40, plus a few ~2,000-turn
    conversations (one per 400k turns, at least two) at random places."""
    heavy_len = min(HEAVY_TURNS, max(n_turns // 20, 2))
    n_heavy = max(2, n_turns // 400_000)
    rest = max(n_turns - n_heavy * heavy_len, 2)
    lens = rng.integers(2, 41, size=rest // 21 + 64)
    lens = lens[: int(np.searchsorted(np.cumsum(lens), rest)) + 1]
    pos = rng.choice(len(lens) + n_heavy, size=n_heavy, replace=False)
    out = np.empty(len(lens) + n_heavy, dtype=np.int64)
    mask = np.zeros(len(out), dtype=bool)
    mask[pos] = True
    out[mask] = heavy_len
    out[~mask] = lens
    return out, n_heavy


def _texts(rng: np.random.Generator, lengths: np.ndarray) -> list[str]:
    words = np.array(["data", "model", "turn", "reply", "query", "tool",
                      "answer", "search", "code", "result", "user", "text"])
    pad = " ".join(rng.choice(words, size=40_000).tolist())
    starts = rng.integers(0, len(pad) - int(lengths.max()) - 1, size=len(lengths))
    return [pad[s:s + n] for s, n in zip(starts.tolist(), lengths.tolist())]


def _transcript_table(seed: int, n_turns: int, stream: int, len_shift: int,
                      plant: bool):
    """Arrays of one transcript snapshot and its planted counts."""
    rng = _rng(seed, stream)
    lens, n_heavy = _conv_lengths(rng, n_turns)
    n_conv = len(lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    conv = np.repeat(np.arange(n_conv), lens)
    turn = np.arange(len(conv)) - np.repeat(starts, lens)
    n = len(conv)

    u_role = rng.random(n)
    role = np.where(turn == 0, "system",
                    np.where(u_role < 0.10, "tool",
                             np.where(turn % 2 == 1, "user", "assistant")))
    role = role.astype(object)
    tool = np.full(n, None, dtype=object)
    is_tool = role == "tool"
    tool[is_tool] = rng.choice(np.array(TOOLS, dtype=object), size=int(is_tool.sum()))
    text_len = 10 + len_shift + rng.integers(0, 190, size=n)
    text = np.array(_texts(rng, text_len), dtype=object)
    ts = EPOCH_US + conv * 60 * 1_000_000 + turn * TURN_GAP_US
    turn_idx = turn.astype(np.int32)
    counts = {"rows": n, "convs": n_conv, "heavy_convs": n_heavy}
    parent = np.arange(n_conv)
    dup_rows = np.empty(0, dtype=np.int64)
    if plant:
        u = rng.random(n)
        later = turn >= 1
        edges = np.cumsum([P_NULL, P_EMPTY, P_BLANK, P_LONG, P_BAD_ROLE])
        kind = np.searchsorted(edges, u, side="right")   # 5 == clean
        kind[~later] = 5
        text[kind == 0] = None
        text[kind == 1] = ""
        text[kind == 2] = " \t "
        long_idx = np.flatnonzero(kind == 3)
        text[long_idx] = ["x" * LONG_TEXT] * len(long_idx)
        role[kind == 4] = BAD_ROLE
        tool[kind == 4] = None
        neg_conv = rng.random(n_conv) < P_NEG_CONV
        turn_idx[starts[neg_conv]] = -1
        # at most one regression per conversation, never on turn 0, so each
        # regressed row is exactly one ordering violation
        reg_conv = np.flatnonzero(rng.random(n_conv) < P_REGRESS_CONV)
        reg_row = starts[reg_conv] + 1 + (
            rng.random(len(reg_conv)) * (lens[reg_conv] - 1)).astype(np.int64)
        ts[reg_row] -= REGRESSION_US
        clean = (kind == 5) & later
        clean[reg_row] = False
        dup_rows = np.flatnonzero(clean & (rng.random(n) < P_DUP_ROW))
        orphan = rng.random(n_conv) < P_ORPHAN_CONV
        parent = rng.permutation(np.flatnonzero(~orphan))
        counts.update({
            "null_text": int((kind == 0).sum()),
            "empty_text": int((kind == 1).sum()),
            "blank_text": int((kind == 2).sum()),
            "long_text": int((kind == 3).sum()),
            "bad_role": int((kind == 4).sum()),
            "neg_turn_idx": int(neg_conv.sum()),
            "ts_regressions": int(len(reg_row)),
            "dup_keys": int(len(dup_rows)),
            "orphan_convs": int(orphan.sum()),
            "orphan_rows": int(lens[orphan].sum()),
            "rows": n + int(len(dup_rows)),
        })
    cols = {"conv": conv, "turn_idx": turn_idx, "role": role, "text": text,
            "tool": tool, "ts": ts}
    if len(dup_rows):
        cols = {k: np.concatenate([v, v[dup_rows]]) for k, v in cols.items()}
    return cols, counts, parent, lens


def _conv_ids(n: int) -> pa.Array:
    return pa.array([f"c{i:08d}" for i in range(n)], pa.string())


def _write_turns(cols: dict, ids: pa.Array, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.table({
        "conv_id": ids.take(pa.array(cols["conv"])),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
    })
    bounds = np.linspace(0, tbl.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def transcripts(cache_dir: str, seed: int, n_turns: int) -> dict:
    """Day-1 table (``turns``), its parent registry (``registry``), a
    clean baseline snapshot with longer texts (``baseline``) and a day-2
    snapshot in which ``P_DAY2_CONV`` of the conversations gained one turn
    (``day2``)."""

    def build(d: str) -> dict:
        cols, counts, parent, lens = _transcript_table(seed, n_turns, 1, 0, True)
        ids = _conv_ids(counts["convs"])
        _write_turns(cols, ids, os.path.join(d, "turns"))
        os.makedirs(os.path.join(d, "registry"))
        pq.write_table(pa.table({"conv_id": ids.take(pa.array(parent))}),
                       os.path.join(d, "registry", "part-00000.parquet"))
        base, bcounts, _p, _l = _transcript_table(
            seed, max(n_turns // 4, 1_000), 2, BASELINE_LEN_SHIFT, False)
        _write_turns(base, _conv_ids(bcounts["convs"]), os.path.join(d, "baseline"))
        # day 2: a new last turn on a share of the conversations
        rng = _rng(seed, 3)
        grow = np.flatnonzero(rng.random(len(lens)) < P_DAY2_CONV)
        last_ts = EPOCH_US + grow * 60 * 1_000_000 + lens[grow] * TURN_GAP_US
        new = {
            "conv": grow,
            "turn_idx": lens[grow].astype(np.int32),
            "role": np.array(["user"] * len(grow), dtype=object),
            "text": np.array(_texts(rng, np.full(len(grow), 60)), dtype=object),
            "tool": np.full(len(grow), None, dtype=object),
            "ts": last_ts,
        }
        day2 = {k: np.concatenate([cols[k], new[k]]) for k in cols}
        _write_turns(day2, ids, os.path.join(d, "day2"))
        with open(os.path.join(d, "day2_changed.json"), "w") as f:
            json.dump(ids.take(pa.array(grow)).to_pylist(), f)
        counts["baseline_rows"] = bcounts["rows"]
        counts["day2_rows"] = counts["rows"] + len(grow)
        counts["day2_changed_convs"] = int(len(grow))
        return {"kind": "transcripts", "seed": seed, "size": n_turns,
                "planted": counts}

    return cached(cache_dir, f"transcripts-s{seed}-n{n_turns}", build)


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------


def _doc_profile() -> dict:
    with open(os.path.join(HERE, "doc_profile.json")) as f:
        return json.load(f)


def documents(cache_dir: str, seed: int, n_docs: int) -> dict:
    """A word-salad corpus drawn from ``doc_profile.json``'s word, length
    and language frequencies, plus planted near-duplicate copies (edited
    or verbatim), a shared boilerplate line and one embedding per
    document whose copies sit next to their original's embedding."""

    def build(d: str) -> dict:
        prof = _doc_profile()
        rng = _rng(seed, 4)
        vocab = np.array(list(prof["words"]), dtype=object)
        p_word = np.array(list(prof["words"].values()), dtype=np.float64)
        p_word /= p_word.sum()
        lengths = np.array([int(k) for k in prof["doc_tokens"]])
        p_len = np.array(list(prof["doc_tokens"].values()), dtype=np.float64)
        p_len /= p_len.sum()
        langs = np.array(list(prof["langs"]), dtype=object)
        p_lang = np.array(list(prof["langs"].values()), dtype=np.float64)
        p_lang /= p_lang.sum()

        n_copy = int(round(n_docs * NEAR_DUP_FRAC / (1 + NEAR_DUP_FRAC)))
        n_orig = n_docs - n_copy
        doc_len = rng.choice(lengths, size=n_orig, p=p_len)
        word_idx = rng.choice(len(vocab), size=int(doc_len.sum()), p=p_word)
        offs = np.concatenate([[0], np.cumsum(doc_len)])
        toks = [word_idx[offs[i]:offs[i + 1]] for i in range(n_orig)]
        src = rng.choice(n_orig, size=n_copy, replace=False)
        exact = rng.random(n_copy) < EXACT_COPY_FRAC
        edits = []
        for j, o in enumerate(src.tolist()):
            t = toks[o].copy()
            if not exact[j]:
                hit = rng.random(len(t)) < TOKEN_EDIT_RATE
                if not hit.any():
                    hit[rng.integers(len(t))] = True
                shift = rng.integers(1, len(vocab), size=int(hit.sum()))
                t[hit] = (t[hit] + shift) % len(vocab)
            toks.append(t)
            edits.append(int((t != toks[o]).sum()))
        # the boilerplate goes on originals; a copy carries its original's
        boiler = rng.random(n_orig) < BOILERPLATE_FRAC
        boiler = np.concatenate([boiler, boiler[src]])
        texts = [" ".join(vocab[t].tolist()) + ("\n" + BOILERPLATE if b else "")
                 for t, b in zip(toks, boiler.tolist())]
        # copies get the doc_ids after the originals, in random order
        order = np.concatenate([np.arange(n_orig), n_orig + rng.permutation(n_copy)])
        doc_id = np.empty(n_docs, dtype=np.int64)
        doc_id[order] = np.arange(n_docs)
        lang = rng.choice(langs, size=n_docs, p=p_lang)
        lang[n_orig:] = lang[src]
        emb = rng.normal(0.0, 1.0, size=(n_docs, EMB_DIM))
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        emb[n_orig:] = emb[src] + rng.normal(0.0, EMB_NOISE / np.sqrt(EMB_DIM),
                                             size=(n_copy, EMB_DIM))
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        emb = emb.astype(np.float32)
        tbl = pa.table({
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1), pa.float32()), EMB_DIM).cast(
                    pa.list_(pa.float32())),
        }).take(pa.array(np.argsort(doc_id)))
        os.makedirs(os.path.join(d, "docs"))
        bounds = np.linspace(0, n_docs, 9).astype(int)
        for i in range(8):
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(d, "docs", f"part-{i:05d}.parquet"))
        planted = {
            "docs": n_docs,
            "originals": n_orig,
            "copies": n_copy,
            "exact_copies": int(exact.sum()),
            "boilerplate_docs": int(boiler.sum()),
            "mean_copy_edits": round(float(np.mean(edits)), 4) if edits else 0.0,
        }
        pairs = [[int(doc_id[o]), int(doc_id[n_orig + j])]
                 for j, o in enumerate(src.tolist())]
        with open(os.path.join(d, "planted_pairs.json"), "w") as f:
            json.dump({"pairs": pairs, "exact": exact.tolist()}, f)
        return {"kind": "documents", "seed": seed, "size": n_docs,
                "planted": planted}

    return cached(cache_dir, f"documents-s{seed}-n{n_docs}", build)
