"""Seeded load generators for the benchmark, one per workload.

Run as its own process, separate from the engine under test::

    python3 perfbench/gen.py --workload W --seed N --root DIR --seconds S

Every input is built up front from the seed alone (one seed always gives
byte-identical inputs), then the process prints ``ready``.  ``corpus-prep``
is batch: the generator writes ``DIR/documents.parquet``,
``DIR/embeddings.parquet`` and ``DIR/queries.parquet`` and exits.  For the
stream workload it then obeys commands on stdin:

- ``warmup``: publish the warm-up file, reply ``ok``;
- ``steady``: publish ``rate_files_per_s * S`` files on a fixed
  wall-clock schedule (file ``j`` is due at
  ``t0 + j / rate``, whatever the engine is doing), reply ``steady-done``;
- ``burst``: publish the backlog of ``burst_files`` files' worth of input
  at once, as one file, reply ``burst-done`` and exit.

Publishing is an atomic ``os.rename`` from ``DIR/staging`` into
``DIR/in``, the directory the engine watches.  Each publish is logged to ``DIR/publish.jsonl`` with
the time it was due and the time the rename finished.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

try:  # run as a script: perfbench/ is sys.path[0]
    from workloads import WORKLOADS
except ImportError:  # imported as perfbench.gen
    from perfbench.workloads import WORKLOADS

SEG_LEN_M = 5280
N_SEGS = 100
MPH_TO_MPS = 0.44704


def n_steady(p: dict, seconds: int) -> int:
    return int(round(p["rate_files_per_s"] * seconds))


def live_file_count(p: dict, seconds: int) -> int:
    """Files of a run: one warm-up file, the steady files, the burst."""
    return 1 + n_steady(p, seconds) + p["burst_files"]


# --- telematics-stream --------------------------------------------------------


def telematics_files(seed: int, p: dict, n_files: int) -> list[str]:
    """Car-report CSV bodies (``time,vid,spd,xway,lane,dir,seg,pos``).

    Vehicles are split into ``files_per_tick`` groups; file ``j`` holds the
    reports of group ``j % files_per_tick`` at tick ``j // files_per_tick``,
    so time ascends per vehicle in publish order.  Per tick a moving vehicle
    stops for ``stop_ticks`` ticks with probability ``p_stop`` (Q-ACC fires
    ``stop_ticks - 3`` times), reports 90-119 mph with probability
    ``p_speed`` (Q-SPEED), and otherwise drives at its own 55-85 mph cruise
    speed.  Eastbound vehicles start in segments 44-52, so most cross the
    52 -> 56 stretch during a run (Q-AVGSPD).
    """
    rng = np.random.default_rng([seed, 1])
    n_veh, groups = p["vehicles"], p["files_per_tick"]
    vid = np.arange(n_veh, dtype=np.int64)
    group = vid % groups
    xway = rng.integers(0, 10, n_veh)
    lane = rng.integers(0, 5, n_veh)
    east = rng.random(n_veh) < p["share_eastbound"]
    direction = np.where(east, 0, 1)
    cruise = rng.integers(55, 86, n_veh)
    pos = np.where(
        east,
        rng.integers(44 * SEG_LEN_M, 53 * SEG_LEN_M, n_veh),
        rng.integers(0, N_SEGS * SEG_LEN_M, n_veh),
    )
    stop_left = np.zeros(n_veh, dtype=np.int64)
    out: list[str] = []
    for tick in range((n_files + groups - 1) // groups):
        start_stop = (stop_left == 0) & (rng.random(n_veh) < p["p_stop"])
        stop_left = np.where(start_stop, p["stop_ticks"], stop_left)
        stopped = stop_left > 0
        speeding = rng.random(n_veh) < p["p_speed"]
        spd = np.where(speeding, rng.integers(90, 120, n_veh), cruise)
        spd = np.where(stopped, 0, spd)
        step = np.rint(spd * MPH_TO_MPS * p["tick_s"]).astype(np.int64)
        pos = np.clip(np.where(east, pos + step, pos - step), 0, N_SEGS * SEG_LEN_M - 1)
        stop_left = np.where(stopped, stop_left - 1, stop_left)
        t = np.full(n_veh, tick * p["tick_s"], dtype=np.int64)
        cols = np.stack([t, vid, spd, xway, lane, direction, pos // SEG_LEN_M, pos], axis=1)
        for g in range(groups):
            rows = cols[group == g].tolist()
            out.append("".join(",".join(map(str, r)) + "\n" for r in rows))
    return out[:n_files]


# --- corpus-prep: embeddings --------------------------------------------------


def ann_vectors(seed: int, p: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clustered embeddings: ``clusters`` Gaussian blobs in ``dim``
    dimensions.  Returns (corpus vectors, their blob labels, queries)."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(p["clusters"], p["dim"]))

    def draw(n):
        lab = rng.integers(0, p["clusters"], n)
        vec = centers[lab] + p["noise"] * rng.normal(size=(n, p["dim"]))
        return vec.astype(np.float32), lab.astype(np.int32)

    corpus, labels = draw(p["vectors"])
    return corpus, labels, draw(p["queries"])[0]


def embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray):
    """An ``embeddings``-shaped Arrow table (vec_id, embedding, label)."""
    import pyarrow as pa

    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), vecs.shape[1])
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_embeddings(seed: int, p: dict, root: str) -> None:
    """``root/embeddings.parquet`` (the indexed corpus) and
    ``root/queries.parquet`` (ids from ``query_id_base``, disjoint from the
    corpus ids)."""
    import pyarrow.parquet as pq

    corpus, labels, queries = ann_vectors(seed, p)
    pq.write_table(
        embeddings_table(np.arange(len(corpus), dtype=np.int64), corpus, labels),
        os.path.join(root, "embeddings.parquet"),
    )
    qids = np.arange(len(queries), dtype=np.int64) + p["query_id_base"]
    pq.write_table(
        embeddings_table(qids, queries, np.zeros(len(queries), np.int32)),
        os.path.join(root, "queries.parquet"),
    )


# --- corpus-prep --------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
SYLLABLES = "ka ri mo te su na lo pi vu be do ge ha ji ku me no ra si to".split()
JUNK = "$$ ## 1234 5678 !! 9999 %% 0000 @@ 4242".split()


def documents_table(seed: int, p: dict):
    """``documents``-shaped corpus over a ``vocab``-word synthetic
    vocabulary with Zipf-like word frequencies and one word in four a
    stopword.  ``share_junk`` of docs are digit/punctuation noise that
    fails the quality filter, ``share_exact_dup`` are verbatim copies of an
    earlier doc, and ``share_near_dup`` are copies with one word in twenty
    replaced."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    vocab = sorted({"".join(rng.choice(SYLLABLES, rng.integers(2, 5))) for _ in range(p["vocab"])})
    weight = 1.0 / (np.arange(len(vocab)) + 10.0)
    weight /= weight.sum()
    n = p["docs"]
    texts: list[str] = []
    kinds = rng.random(n)
    dup_cut = p["share_exact_dup"]
    near_cut = dup_cut + p["share_near_dup"]
    junk_cut = near_cut + p["share_junk"]

    def words(k: int) -> list[str]:
        content = rng.choice(len(vocab), k, p=weight)
        stop = rng.integers(0, len(STOPWORDS), k)
        use_stop = rng.random(k) < 0.25
        return [STOPWORDS[s] if u else vocab[c] for c, s, u in zip(content, stop, use_stop)]

    for i in range(n):
        k = kinds[i]
        if i > 0 and k < dup_cut:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and k < near_cut:
            ws = texts[int(rng.integers(0, i))].split()
            for j in range(0, len(ws), 20):
                ws[j] = words(1)[0]
            texts.append(" ".join(ws))
        elif k < junk_cut:
            n_tok = int(rng.integers(10, 60))
            texts.append(" ".join(JUNK[j] for j in rng.integers(0, len(JUNK), n_tok)))
        else:
            texts.append(" ".join(words(int(rng.integers(p["min_tokens"], p["max_tokens"])))))
    langs = np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# --- staging and publishing ---------------------------------------------------


def build_inputs(workload: str, seed: int, root: str, seconds: int) -> list[str]:
    """Write every input file of the stream workload under ``root/staging``
    and return their names in publish order: the warm-up file, the steady
    files, then the burst.  The burst's ``burst_files`` file bodies are
    joined into one file, so a single rename publishes the whole backlog
    and no trigger can see only part of it."""
    if workload != "telematics-stream":
        raise ValueError(f"no streamed input for workload {workload!r}")
    p = WORKLOADS[workload]
    n_files = live_file_count(p, seconds)
    n_single = n_files - p["burst_files"]
    staging = os.path.join(root, "staging")
    os.makedirs(staging, exist_ok=True)
    os.makedirs(os.path.join(root, "in"), exist_ok=True)
    bodies = telematics_files(seed, p, n_files)
    bodies = bodies[:n_single] + ["".join(bodies[n_single:])]
    names = [f"f{i:05d}.csv" for i in range(len(bodies))]
    for name, body in zip(names, bodies):
        with open(os.path.join(staging, name), "w") as fh:
            fh.write(body)
    return names


class Publisher:
    """Atomic publishes from ``root/staging`` into ``root/in``, each logged
    with its due time and the time the rename finished."""

    def __init__(self, root: str):
        self.root = root
        self.log = open(os.path.join(root, "publish.jsonl"), "w")

    def publish(self, name: str, phase: str, due: float) -> None:
        os.rename(os.path.join(self.root, "staging", name), os.path.join(self.root, "in", name))
        rec = {"file": name, "phase": phase, "due": due, "published": time.time()}
        self.log.write(json.dumps(rec) + "\n")
        self.log.flush()

    def close(self) -> None:
        self.log.close()


def serve(workload: str, root: str, names: list[str], seconds: int) -> None:
    """The command loop: the warm-up file, then the steady schedule, then
    the burst."""
    p = WORKLOADS[workload]
    steady = names[1 : 1 + n_steady(p, seconds)]
    burst = names[1 + len(steady) :]
    pub = Publisher(root)
    try:
        print("ready", flush=True)
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "warmup":
                pub.publish(names[0], "warmup", time.time())
                print("ok", flush=True)
            elif cmd == "steady":
                t0 = time.time()
                for j, name in enumerate(steady):
                    due = t0 + j / p["rate_files_per_s"]
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    pub.publish(name, "steady", due)
                print("steady-done", flush=True)
            elif cmd == "burst":
                now = time.time()
                for name in burst:
                    pub.publish(name, "burst", now)
                print("burst-done", flush=True)
                return
            else:
                raise ValueError(f"unknown command {cmd!r}")
    finally:
        pub.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench seeded load generator")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args(argv)
    if a.workload == "corpus-prep":
        import pyarrow.parquet as pq

        p = WORKLOADS[a.workload]
        pq.write_table(documents_table(a.seed, p), os.path.join(a.root, "documents.parquet"))
        write_embeddings(a.seed, p, a.root)
        print("ready", flush=True)
        return 0
    names = build_inputs(a.workload, a.seed, a.root, a.seconds)
    serve(a.workload, a.root, names, a.seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
