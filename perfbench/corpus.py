"""Seeded transcript corpus for the benchmark, cached per seed.

The corpus has the conversation shape of ``fixtures.gen_rows``: 1% of
conversations are hot with 100x the turns, and each turn's text comes
from the public ``fixtures.make_turn_text`` (LogNormal length, median
~900 chars, 64 KB cap).  ``gen_rows`` hard-codes its seed, so the shape
loop is restated here with the benchmark's seed.

Conversation shapes come from one ``Random(seed)`` stream; every turn's
text comes from its own ``Random`` keyed by (seed, conv, turn), so the
text generation splits across processes and a seed always yields the
same bytes.  A corpus is sized in bytes of text, not turns, so every
seed gives a pass the same bytes.  Generation is input preparation: it
runs before set-up is timed and is cached under the work directory,
keyed by seed and size.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import random
import shutil
import subprocess
import sys
import tempfile
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
GEN_PROCS = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a worker: unpickle (fn, arg) from argv[1], pickle fn(arg) to argv[2]
_WORKER = (
    "import pickle, sys\n"
    "with open(sys.argv[1], 'rb') as f:\n"
    "    fn, arg = pickle.load(f)\n"
    "with open(sys.argv[2], 'wb') as f:\n"
    "    pickle.dump(fn(arg), f)\n"
)
ROLES = ("user", "assistant", "tool")


def shapes(seed: int, n_turns: int) -> list[tuple[str, int, str, datetime]]:
    """(conv_id, turn_idx, tool, ts) for the first ``n_turns`` turns."""
    rng = random.Random(seed)
    out: list = []
    conv_seq = 0
    while len(out) < n_turns:
        hot = rng.random() < 0.01
        k = max(1, min(int(math.exp(rng.gauss(2.0, 1.0))), 64))
        if hot:
            k *= 100
        base_ts = EPOCH + timedelta(seconds=conv_seq * 60)
        for turn_idx in range(min(k, n_turns - len(out))):
            role = ROLES[turn_idx % 3]
            tool = f"tool{rng.randint(0, 9)}" if role == "tool" else ""
            out.append(
                (f"conv{conv_seq:06d}", turn_idx, tool,
                 base_ts + timedelta(seconds=turn_idx))
            )
        conv_seq += 1
    return out


def _texts(args) -> list[str]:
    from html_parser_spark.fixtures import make_turn_text

    seed, keys = args
    return [make_turn_text(random.Random(f"perfbench:{seed}:{c}:{t}"))
            for c, t in keys]


def chunks(items: list, k: int) -> list[list]:
    step = -(-len(items) // k)
    return [items[i : i + step] for i in range(0, len(items), step)]


def parallel_map(fn, chunks: list) -> list:
    """``fn`` over ``chunks`` in up to GEN_PROCS worker interpreters, in
    order; a single chunk runs in-process.  Workers are plain
    subprocesses, each waited for: a ``multiprocessing`` pool would leave
    its resource tracker running past the end of the run."""
    if len(chunks) <= 1:
        return [fn(c) for c in chunks]
    tmp = tempfile.mkdtemp(prefix="gen-")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p]))
    out: list = []
    try:
        for start in range(0, len(chunks), GEN_PROCS):
            procs = []
            try:
                for i in range(start, min(start + GEN_PROCS, len(chunks))):
                    job = os.path.join(tmp, f"{i}.in")
                    with open(job, "wb") as f:
                        pickle.dump((fn, chunks[i]), f)
                    procs.append(subprocess.Popen(
                        [sys.executable, "-c", _WORKER, job,
                         os.path.join(tmp, f"{i}.out")], env=env, cwd=ROOT))
                for i, p in enumerate(procs, start):
                    if p.wait() != 0:
                        raise RuntimeError(
                            f"corpus worker {i} exited with {p.returncode}")
                    with open(os.path.join(tmp, f"{i}.out"), "rb") as f:
                        out.append(pickle.load(f))
            finally:
                for p in procs:
                    if p.poll() is None:
                        p.kill()
                    p.wait()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def generate(seed: int, target_bytes: int) -> dict[str, list]:
    """The shortest prefix of the seed's turn stream whose UTF-8 text
    reaches ``target_bytes``, as transcript columns.  A byte target, not
    a turn count, keeps the bytes of a pass the same for every seed."""
    texts: list[str] = []
    total = 0
    n = target_bytes // 2000 + 64  # mean turn text is ~2.4 KB
    while True:
        rows = shapes(seed, n)
        keys = [(c, t) for c, t, _, _ in rows[len(texts):]]
        for part in parallel_map(
            _texts, [(seed, ch) for ch in chunks(keys, GEN_PROCS)]
        ):
            texts.extend(part)
        for i in range(len(texts) - len(keys), len(texts)):
            total += len(texts[i].encode())
            if total >= target_bytes:
                return _columns(rows[: i + 1], texts[: i + 1])
        n = n * 3 // 2


def _columns(rows: list, texts: list[str]) -> dict[str, list]:
    return {
        "conv_id": [r[0] for r in rows],
        "turn_idx": [r[1] for r in rows],
        "role": [ROLES[r[1] % 3] for r in rows],
        "text": texts,
        "tool": [r[2] for r in rows],
        "ts": [r[3] for r in rows],
    }


def seed_root(work: str, seed: int) -> str:
    """Per-seed cache root; it has the ``transcripts_sf<sf>`` layout that
    ``fixtures.ensure_transcripts`` reads through ``SPARK_GRAFT_DATA_DIR``
    (sf x 1e6 is the turn count)."""
    return os.path.join(work, "corpus", f"seed{seed}")


def sf_dir_of(path: str) -> str:
    """``sf<sf>`` of a corpus parquet path, the engine's scale naming."""
    return os.path.basename(os.path.dirname(path)).removeprefix("transcripts_")


def ensure_parquet(work: str, seed: int, mb: float) -> str:
    """Write the ``mb``-megabyte corpus once per seed; return its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = seed_root(work, seed)
    index = os.path.join(root, f"corpus_{mb}MB.json")
    if os.path.exists(index):
        with open(index) as f:
            path = json.load(f)["path"]
        if os.path.exists(os.path.join(root, path)):
            return os.path.join(root, path)
    cols = generate(seed, int(mb * 1e6))
    name = f"transcripts_sf{len(cols['text']) / 1_000_000}"
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    table = pa.Table.from_pydict(cols, schema=schema)
    out_dir = os.path.join(root, name)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "transcripts.parquet"),
                   row_group_size=8192)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    path = os.path.join(name, "transcripts.parquet")
    with open(index + ".tmp", "w") as f:
        json.dump({"path": path}, f)
    os.replace(index + ".tmp", index)
    return os.path.join(root, path)


def read_columns(path: str, columns: list[str]) -> dict[str, list]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    return {c: t.column(c).to_pylist() for c in columns}
