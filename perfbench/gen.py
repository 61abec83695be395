"""Seeded input generators for the three benchmark workloads.

Every generator is plain numpy + pyarrow: the inputs exist as parquet files
before the first Spark session starts, so session start-up and the first
(cold) job are measured on a JVM that has done nothing yet, and the program
under test receives only files. The same ``seed`` gives byte-identical
files; another seed changes the rows themselves (token draws, template
parameters, duplicate texts, id offsets), not only their order.

Each generator returns the facts the correctness checks need (counts the
generator planted) and the input-property shares the result records.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 8_192  # several row groups per file, so a scan splits across cores


def _write(table: pa.Table, path: str, n_files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=ROW_GROUP)


def _list_array(lengths: np.ndarray, values: np.ndarray, value_type: pa.DataType) -> pa.ListArray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, type=value_type))


# ------------------------------------------------------------ seq_pipeline

VOCAB = 10_000
N_SOURCES = 20
HOT_TEMPLATES = 5
HOT_SHARE = 0.18


def pretokenized(out_dir: str, n_docs: int, seed: int) -> dict:
    """(doc_id, tokens array<int>, n_tok, source) + the (source, label, region)
    lookup: the north-rule input. Token ids are log-uniform over the vocab,
    18 % of docs repeat one of 5 hot 12-token templates, sources are
    exponentially skewed over 20 values (every source is present)."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(5, 201, n_docs)
    hot = rng.random(n_docs) < HOT_SHARE
    hot_id = rng.integers(0, HOT_TEMPLATES, n_docs)
    hot_tokens = rng.integers(0, VOCAB, (HOT_TEMPLATES, 12)).astype(np.int32)
    lengths[hot] = 12
    total = int(lengths.sum())
    values = (np.exp(rng.random(total) * np.log(VOCAB)) - 1).astype(np.int32)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    for h in range(HOT_TEMPLATES):
        for s in starts[hot & (hot_id == h)]:
            values[s : s + 12] = hot_tokens[h]
    src = np.minimum(np.floor(-np.log(rng.random(n_docs) + 1e-9) * 4.0), N_SOURCES - 1).astype(int)
    src[:N_SOURCES] = np.arange(N_SOURCES)  # every source present, whatever the draw
    base = seed * 10_000_000
    table = pa.table({
        "doc_id": pa.array([f"doc_{base + i:012d}" for i in range(n_docs)]),
        "tokens": _list_array(lengths, values, pa.int32()),
        "n_tok": pa.array(lengths.astype(np.int32)),
        "source": pa.array([f"src{s}" for s in src]),
    })
    _write(table, os.path.join(out_dir, "docs"))
    meta = pa.table({
        "source": [f"src{i}" for i in range(N_SOURCES)],
        "label": ["anomaly" if i % 7 == 0 else "normal" for i in range(N_SOURCES)],
        "region": [f"region{i % 4}" for i in range(N_SOURCES)],
    })
    _write(meta, os.path.join(out_dir, "meta"), n_files=1)
    return {
        "n_docs": n_docs,
        "n_sources": N_SOURCES,
        "shares": {"hot_template_rows": float(hot.mean())},
    }


# ------------------------------------------------------------ log_anomaly

# HDFS DataNode/NameSystem line shapes; the parameters come from the seed.
LOG_TEMPLATES = [
    "Receiving block blk_{b} src: /10.0.{o}.{h}:{p} dest: /10.0.{o}.{h}:50010",
    "BLOCK* NameSystem.allocateBlock: /user/job_{j}/part-{t} blk_{b}",
    "PacketResponder {t} for block blk_{b} terminating",
    "Verification succeeded for blk_{b}",
    "BLOCK* NameSystem.addStoredBlock: blockMap updated: 10.0.{o}.{h}:50010 is added to blk_{b} size {s}",
    "Deleting block blk_{b} file /data/current/blk_{b}",
    "Exception in receiveBlock for block blk_{b} java.io.IOException: Connection reset",
    "Received block blk_{b} of size {s} from /10.0.{o}.{h}",
]
EXCEPTION_TEMPLATE = 6
# template mix: the exception line is rare, so few sequences are anomalous
TEMPLATE_P = np.array([0.16, 0.14, 0.16, 0.14, 0.16, 0.12, 0.004, 0.116])
TEMPLATE_P = TEMPLATE_P / TEMPLATE_P.sum()
COMPONENTS = ("dfs.DataNode$PacketResponder", "dfs.FSNamesystem", "dfs.DataNode$DataXceiver")


def hdfs_lines(out_dir: str, n_seqs: int, lines_per_seq: int, seed: int) -> dict:
    """Raw HDFS-style lines (one ``m_message`` column) + the block labels.

    Every block id gets exactly ``lines_per_seq`` lines and the lines of all
    blocks interleave in time. A block is anomalous iff one of its lines is
    the exception template; every template appears at least once."""
    rng = np.random.default_rng([seed, 2])
    n = n_seqs * lines_per_seq
    blk_nums = rng.choice(10**12, n_seqs, replace=False) + 10**12 + seed
    seq_of_line = rng.permutation(np.repeat(np.arange(n_seqs), lines_per_seq))
    tpl = rng.choice(len(LOG_TEMPLATES), n, p=TEMPLATE_P)
    tpl[: len(LOG_TEMPLATES)] = np.arange(len(LOG_TEMPLATES))
    o, h = rng.integers(0, 255, n), rng.integers(0, 255, n)
    port, job = rng.integers(1024, 31024, n), rng.integers(0, 50, n)
    t, size = rng.integers(0, 8, n), rng.integers(1024, 67_109_888, n)
    pid, comp = rng.integers(0, 4000, n), rng.integers(0, 3, n)
    ts0 = np.datetime64("2008-11-09T20:00:00") + np.timedelta64(int(rng.integers(0, 86_400)), "s")
    stamps = (ts0 + np.arange(n).astype("timedelta64[s]")).astype(str)
    lines = []
    for i in range(n):
        s = stamps[i]  # YYYY-MM-DDTHH:MM:SS
        body = LOG_TEMPLATES[tpl[i]].format(
            b=f"-{blk_nums[seq_of_line[i]]}", o=o[i], h=h[i], p=port[i], j=job[i], t=t[i], s=size[i]
        )
        level = "WARN" if tpl[i] == EXCEPTION_TEMPLATE else "INFO"
        lines.append(
            f"{s[2:4]}{s[5:7]}{s[8:10]} {s[11:13]}{s[14:16]}{s[17:19]} {pid[i]} {level} "
            f"{COMPONENTS[comp[i]]}: {body}"
        )
    _write(pa.table({"m_message": pa.array(lines)}), os.path.join(out_dir, "lines"))
    anomalous = np.zeros(n_seqs, dtype=bool)
    anomalous[seq_of_line[tpl == EXCEPTION_TEMPLATE]] = True
    seq_ids = [f"blk_-{b}" for b in blk_nums]
    labels = pa.table({
        "BlockId": pa.array(seq_ids),
        "Label": pa.array(np.where(anomalous, "Anomaly", "Normal")),
    })
    _write(labels, os.path.join(out_dir, "labels"), n_files=1)
    # distinct masked bodies per template: lines the miner must fold together
    distinct = [len({lines[i].split(": ", 1)[1] for i in np.flatnonzero(tpl == k)}) for k in range(len(LOG_TEMPLATES))]
    return {
        "n_lines": n,
        "n_seqs": n_seqs,
        "n_templates": len(LOG_TEMPLATES),
        "seq_ids": seq_ids,
        "shares": {
            "anomalous_seqs": float(anomalous.mean()),
            "distinct_lines_per_template": float(np.mean(distinct)),
        },
    }


# ------------------------------------------------------------ llm_hygiene

LLM_VOCAB = 5_000
DOC_WORDS = 40
LLM_SOURCES = 8
EXACT_EVERY = 50  # doc i (i % 50 == 0) repeats doc i-1 verbatim
NEAR_EVERY = 70   # doc i (i % 70 == 0, not exact) repeats doc i-2 re-spaced
EVAL_EVERY = 97   # every 97th doc leaks verbatim into the eval set


def dup_docs(out_dir: str, n_docs: int, seed: int) -> dict:
    """(doc_id long, text, source) with planted duplicates + the eval set.

    Exact duplicates copy a document byte for byte. Near duplicates copy
    the words of a document with one separator doubled: a different byte
    string (exact dedup keeps both) with the same word shingles, so MinHash
    LSH pairs them with certainty and the expected dedup survivor count is
    exact, not probabilistic. Random documents share no shingles."""
    rng = np.random.default_rng([seed, 3])
    words = rng.integers(0, LLM_VOCAB, (n_docs, DOC_WORDS))
    texts: list[str] = []
    canon = np.arange(n_docs)  # index of the document whose words a doc carries
    n_exact = n_near = 0
    for i in range(n_docs):
        if i and i % EXACT_EVERY == 0:
            texts.append(texts[i - 1])
            canon[i] = canon[i - 1]
            n_exact += 1
        elif i >= 2 and i % NEAR_EVERY == 0:
            w = texts[i - 2].split(" ")
            cut = 1 + int(rng.integers(0, DOC_WORDS - 1))
            texts.append(" ".join(w[:cut]) + "  " + " ".join(w[cut:]))
            canon[i] = canon[i - 2]
            n_near += 1
        else:
            texts.append(" ".join(f"w{k}" for k in words[i]))
    base = seed * 10_000_000
    table = pa.table({
        "doc_id": pa.array(base + np.arange(n_docs), type=pa.int64()),
        "text": pa.array(texts),
        "source": pa.array([f"src{s}" for s in rng.integers(0, LLM_SOURCES, n_docs)]),
    })
    _write(table, os.path.join(out_dir, "docs"))
    _write(pa.table({"text": pa.array(texts[::EVAL_EVERY])}), os.path.join(out_dir, "eval"), n_files=1)
    n_groups = len(np.unique(canon))
    # a surviving document is contaminated iff its words are an eval text's
    n_contaminated = len(np.unique(canon[::EVAL_EVERY]))
    return {
        "n_docs": n_docs,
        "n_exact": n_exact,
        "n_near": n_near,
        "n_dedup": n_groups,
        "n_clean": n_groups - n_contaminated,
        "shares": {"duplicate_rows": (n_docs - n_groups) / n_docs},
    }
