"""Seeded input generator for the benchmark workloads.

The tables follow the schema and value distributions of the engine's parquet
fixtures (FIXTURES.md) for the two tables the workloads read: `events` and
`documents`. All values come from numpy's PCG64 generator, so one seed always
yields byte-identical inputs.

Each workload builds its input directory from `--seed` (see `build_input`):

* pipeline_large: base documents replicated `k` times (see `replicate`),
  plus the base events for the warm-up query. The letter rotations come from
  the base seed; the run's seed only shuffles rows into part files and
  leaves values alone, so one oracle check per scale covers every seed.
* events_stream: base events with user_id remapped by a seeded permutation,
  cut in event-time order into release files.

Directories are written under a staging name and renamed into place, so a
crashed run never leaves a partial input behind.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400_000_000


def events(sf, rng, n=None):
    """Event-time ordered events over 30 days; event_id follows event time."""
    n, users = n or int(1_000_000 * sf), max(int(15_000 * sf), 10)
    gaps = rng.exponential(1.0, n)
    ts = EPOCH_2024_US + 11_000_000 + np.floor(
        np.cumsum(gaps) / gaps.sum() * (30 * DAY_US - 60_000_000)).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")})


def documents(sf, rng):
    """Word-soup documents; 5% are a copy of another document plus ' dup'."""
    n = int(50_000 * sf)
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (doc_id % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def base_tables(sf):
    rng = np.random.default_rng(BASE_SEED)
    return {"events": events(sf, rng), "documents": documents(sf, rng)}


def write_parts(table, path, parts, rng):
    """Rows shuffled by `rng` into `parts` part files under directory `path`."""
    os.makedirs(path)
    order = rng.permutation(table.num_rows)
    shuffled = table.take(pa.array(order))
    for i, chunk in enumerate(np.array_split(np.arange(table.num_rows), parts)):
        if len(chunk):
            pq.write_table(shuffled.slice(int(chunk[0]), len(chunk)),
                           os.path.join(path, f"part-{i:05d}.parquet"))


def rotate_text(texts, shift):
    src = "abcdefghijklmnopqrstuvwxyz"
    table = str.maketrans(src, src[shift:] + src[:shift])
    return [t.translate(table) for t in texts]


def replicate(docs, k, rng):
    """k copies of the documents; copy c > 0 gets ids offset by c times the
    row count rounded up to a multiple of 15 (every copy splits into the
    doc_id % 3 and % 5 slices exactly as the base does) and a letter
    rotation drawn from `rng`."""
    n = -(-docs.num_rows // 15) * 15
    texts = docs.column("text").to_pylist()
    copies = []
    for c in range(k):
        rt = texts if c == 0 else rotate_text(texts, int(rng.integers(1, 26)))
        copies.append(docs.set_column(0, "doc_id",
                                      pa.array(docs.column("doc_id").to_numpy() + c * n))
                      .set_column(1, "text", pa.array(rt)))
    return pa.concat_tables(copies)


def _publish(final, fill):
    """Build `final` through `fill(staging)` and rename it into place."""
    if os.path.isdir(final):
        return final
    staging = f"{final}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    fill(staging)
    try:
        os.rename(staging, final)
    except OSError:  # another run published first
        shutil.rmtree(staging, ignore_errors=True)
    return final


def build_input(root, workload, seed, cfg):
    """Input directory for (workload, seed, cfg); generated once, then reused."""
    key = "-".join(f"{k}{v}" for k, v in sorted(cfg.items()))
    final = os.path.join(root, f"{workload}-s{seed}-{key}")

    def fill(staging):
        rng = np.random.default_rng([seed, 7])
        if workload == "pipeline_large":
            base = base_tables(cfg["sf"])
            base["documents"] = replicate(base["documents"], cfg["k"],
                                          np.random.default_rng([BASE_SEED, 1]))
            for name in ("documents", "events"):
                write_parts(base[name], os.path.join(staging, f"{name}.parquet"),
                            cfg["parts"], rng)
        elif workload == "events_stream":
            ev = events(cfg["sf"], np.random.default_rng(BASE_SEED),
                        cfg["files"] * cfg["per_file"])
            users = ev.column("user_id").to_numpy()
            perm = rng.permutation(int(users.max()) + 1)
            ev = ev.set_column(ev.schema.get_field_index("user_id"), "user_id",
                               pa.array(perm[users].astype(np.int64)))
            pq.write_table(ev, os.path.join(staging, "events.parquet"))
            os.makedirs(os.path.join(staging, "releases"))
            ts_ms = ev.column("ts").cast(pa.int64()).to_numpy() // 1000
            lines = []
            for i in range(cfg["files"]):
                name, lo = f"r{i:05d}.parquet", i * cfg["per_file"]
                pq.write_table(ev.slice(lo, cfg["per_file"]),
                               os.path.join(staging, "releases", name))
                lines.append(f"{name} {ts_ms[lo + cfg['per_file'] - 1]}\n")
            with open(os.path.join(staging, "release_max_ts_ms.txt"), "w") as f:
                f.writelines(lines)
        else:
            raise ValueError(f"unknown workload {workload}")

    return _publish(final, fill)
