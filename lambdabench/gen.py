"""Seeded input generator for the lambda benchmark.

Every input the engine sees is derived here from (workload, seed, size):
events slices and re-deliveries, micro-batch splits, planted duplicates
and read requests. The shapes follow the repository's test tables
(`events`: event_id, ts, user_id, event_type, value, props; `documents`:
doc_id, text, lang, n_chars; `embeddings`: vec_id, 64-float embedding,
label), with row counts set by the size profile: `sf0.1` matches the
sf0.1 tables' scale, `sf0.001` is the tiny smoke size.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# the test corpus vocabulary
TECH = ("spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row agg "
        "key query scan batch").split()
STOP = {
    "en": "the and of to is in that it".split(),
    "de": "der die das und ist nicht mit ein".split(),
    "es": "el la los de que es y un".split(),
    "fr": "le la les et est que dans une".split(),
    "it": "il la di che e per un sono".split(),
    "zh": [],
}
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

SIZES = {
    # batch_recompute: users, events per slice, initial slices, cycle
    # slices, and the corpus (corpus_docs) its dedup view reads
    # speed_serve: initial docs/vectors/hours, docs/vectors/events per batch
    # corpus_dedup: the same corpus alone
    "sf0.1": dict(users=1500, slice_events=2500, initial_slices=10, cycles=12,
                  s_docs=200, s_vecs=300, s_hours=8, batch_docs=10,
                  batch_vecs=10, hour_events=60, batches=40,
                  corpus_docs=2000),
    "sf0.001": dict(users=40, slice_events=60, initial_slices=3, cycles=6,
                    s_docs=120, s_vecs=120, s_hours=4, batch_docs=4,
                    batch_vecs=4, hour_events=10, batches=12,
                    corpus_docs=300),
}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _events(rng, ids, ts_secs, users):
    n = len(ids)
    # skewed users: low ids are the heavy users
    user = np.floor(users * rng.random(n) ** 2).astype(np.int64)
    ts_us = ts_secs.astype(np.int64) * 1_000_000 + rng.integers(0, 1_000_000, n)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.random(n) * 500, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _text(rng, lang, n_words):
    words = rng.choice(TECH, n_words)
    stop = STOP[lang]
    if stop:
        mask = rng.random(n_words) < 0.15
        words = np.where(mask, rng.choice(stop, n_words), words)
    return " ".join(words)


def _shingles(text):
    t = text.lower().split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def _docs_table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _emb_table(rng, ids, centers):
    n = len(ids)
    label = rng.integers(0, len(centers), n)
    vec = centers[label] + 0.35 * rng.standard_normal((n, centers.shape[1]))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def batch_recompute(rng, z, out):
    n_slices = z["initial_slices"] + z["cycles"]
    hours_per_slice = 6
    for k in range(n_slices):
        ids = np.arange(k * z["slice_events"], (k + 1) * z["slice_events"])
        # every event its own second: the bounce_rate_view oracle orders
        # its running visit sum by ts_secs alone, so two same-second
        # events of one user at a session start would make the oracle's
        # own answer depend on DuckDB's sort order
        ts = (EPOCH_2024 + k * hours_per_slice * 3600
              + rng.choice(hours_per_slice * 3600, len(ids), replace=False))
        _write(_events(rng, ids, ts, z["users"]), f"{out}/slices/{k}/events.parquet")
    initial = pa.concat_tables(
        [pq.read_table(f"{out}/slices/{k}/events.parquet")
         for k in range(z["initial_slices"])])
    _write(initial, f"{out}/initial/events.parquet")
    cycle_slices = list(range(z["initial_slices"], n_slices))
    # each cycle re-delivers one slice the master already holds
    redeliver = [int(rng.integers(0, s + 1)) for s in cycle_slices]
    plan = corpus_dedup(rng, z, out)
    plan.update(cycle_slices=cycle_slices, redeliver=redeliver, min_cycles=2)
    return plan


def speed_serve(rng, z, out):
    langs = ["en"] * 6 + ["de", "es", "fr", "zh"]
    centers = rng.standard_normal((10, 64))

    def docs(ids):
        ls = list(rng.choice(langs, len(ids)))
        return _docs_table(ids, [_text(rng, l, int(rng.integers(20, 80))) for l in ls], ls)

    def hour_events(first_id, hour, n, late):
        # `late` events of the previous hour arrive with this batch
        hours = np.full(n, hour)
        hours[:late] = hour - 1
        ts = EPOCH_2024 + hours * 3600 + rng.integers(0, 3600, n)
        return _events(rng, np.arange(first_id, first_id + n), ts, z["users"])

    _write(docs(np.arange(z["s_docs"])), f"{out}/initial/docs.parquet")
    emb = [_emb_table(rng, np.arange(z["s_vecs"]), centers)]
    _write(emb[0], f"{out}/initial/emb.parquet")
    he = z["hour_events"]
    _write(pa.concat_tables([hour_events(h * he, h, he, 0) for h in range(z["s_hours"])]),
           f"{out}/initial/events.parquet")
    batch_docs, last_hour = [], []
    for i in range(z["batches"]):
        d0 = z["s_docs"] + i * z["batch_docs"]
        _write(docs(np.arange(d0, d0 + z["batch_docs"])), f"{out}/stream/{i}/docs.parquet")
        v0 = z["s_vecs"] + i * z["batch_vecs"]
        e = _emb_table(rng, np.arange(v0, v0 + z["batch_vecs"]), centers)
        emb.append(e)
        _write(e, f"{out}/stream/{i}/emb.parquet")
        hour = z["s_hours"] + i
        _write(hour_events(hour * he, hour, he, he // 10), f"{out}/stream/{i}/events.parquet")
        batch_docs.append(z["batch_docs"])
        last_hour.append((EPOCH_2024 // 3600) + hour)
    _write(pa.concat_tables(emb), f"{out}/emb_all.parquet")

    urls = [f"https://{t}.example.com/u/{u}/item" for t in EVENT_TYPES for u in range(20)]
    reads = []
    for n in range(3000):
        kind = ("lookup", "bm25", "ann")[n % 3]
        if kind == "lookup":
            reads.append(dict(kind=kind, urls=list(rng.choice(urls, 3)),
                              ages=[int(a) for a in rng.geometric(0.3, 3) - 1]))
        elif kind == "bm25":
            reads.append(dict(kind=kind, terms=list(rng.choice(TECH, int(rng.integers(2, 4)),
                                                               replace=False))))
        else:
            reads.append(dict(kind=kind, probe=int(rng.integers(0, z["s_vecs"]))))
    with open(f"{out}/reads.json", "w") as f:
        json.dump(reads, f)
    # the read rate is about 60 % of the readers' capacity under fold
    # load: on a 4-vCPU VM a read takes about 1.2 s of service (lookup
    # 0.6 s, bm25TopK 1.3 s, searchIvfPq 1.75 s), so 3 threads serve about
    # 2.5 reads/s; at 1.5/s a read waits for a free thread only rarely, and
    # latency from the due time measures the read path, not queueing
    # (every run reports reader_util, reader_capacity and read_wait_*)
    return dict(batches=z["batches"], batch_docs=batch_docs, batch_last_hour=last_hour,
                initial_last_hour=(EPOCH_2024 // 3600) + z["s_hours"] - 1,
                read_rate=1.5, reader_threads=3, min_folds=3, setup_reps=3)


def corpus_dedup(rng, z, out, threshold=0.7):
    langs = ["en"] * 6 + ["de", "es", "fr", "it", "zh"]
    n = z["corpus_docs"]
    texts, ls = [], []
    for _ in range(n):
        lang = str(rng.choice(langs))
        # a few short docs fail the quality filter
        nw = int(rng.integers(5, 19)) if rng.random() < 0.05 else int(rng.integers(60, 250))
        texts.append(_text(rng, lang, nw))
        ls.append(lang)
    eligible = [i for i in range(n)
                if ls[i] == "en" and len(texts[i]) >= 100 and len(texts[i].split()) >= 20]
    planted_doc, planted_base, planted_kind = [], [], []
    next_id = n
    for base in rng.choice(eligible, int(0.03 * n), replace=False):
        texts.append(texts[base]); ls.append("en")
        planted_doc.append(next_id); planted_base.append(int(base)); planted_kind.append("exact")
        next_id += 1
    for base in rng.choice(eligible, int(0.05 * n), replace=False):
        words = texts[base].split()
        # replace ~2% of the words, keeping the pair well above threshold
        for _ in range(8):
            w = list(words)
            for p in rng.choice(len(w), max(1, len(w) // 50), replace=False):
                w[p] = "dup"
            variant = " ".join(w)
            if jaccard(texts[base], variant) >= threshold + 0.1:
                break
        else:
            continue
        texts.append(variant); ls.append("en")
        planted_doc.append(next_id); planted_base.append(int(base)); planted_kind.append("near")
        next_id += 1
    # several files, as a crawl lands, so the scan runs in parallel
    table = _docs_table(np.arange(next_id), texts, ls)
    order = rng.permutation(next_id)
    for f, part in enumerate(np.array_split(order, 8)):
        _write(table.take(np.sort(part)), f"{out}/corpus/docs.parquet/part-{f}.parquet")
    _write(pa.table({"doc_id": pa.array(planted_doc, pa.int64()),
                     "base_id": pa.array(planted_base, pa.int64()),
                     "kind": pa.array(planted_kind)}), f"{out}/corpus/planted.parquet")
    return dict(threshold=threshold, recall_floor=0.95, setup_reps=3)


WORKLOADS = {"batch_recompute": batch_recompute, "speed_serve": speed_serve,
             "corpus_dedup": corpus_dedup}


def generate(workload, seed, size, out):
    """Write the inputs for one run under `out`; returns the plan dict."""
    # one stream per workload, so a seed means the same inputs per workload
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    plan = WORKLOADS[workload](rng, SIZES[size], out)
    plan.update(workload=workload, seed=seed, size=size)
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
