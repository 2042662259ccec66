"""Seeded input generators. The same seed always produces the same bytes.

- tweets: JSON lines in the reference's Tweet contract, Zipf-skewed
  hashtags, 0-3 tags per tweet, out-of-order event times within the
  watermark, a small share of malformed lines and exact duplicates; plus the
  release schedule (warm-up chunk, open-loop chunks, drain backlog).
- ingest batches: labelled mixes of exact corpus copies, near copies,
  low-quality docs and fresh docs.
- query order for the batch workloads.
"""
import json
import random

BASE_MS = 1704067200000          # 2024-01-01T00:00:00Z, event-time origin
RATE = 1000                      # open-loop offered rate, tweets per second
CHUNK_MS = 100                   # one input file per 100 ms of schedule
EVENT_SPEED = 60                 # event time runs 60x wall time
JITTER_MS = 120_000              # out-of-order lag, well inside the 300 s watermark
WARMUP = 2000                    # tweets in the cold first chunk
WARM_LOOP_S = 3                  # unmeasured open loop before the measured one
BACKLOG_TWEETS = 100_000         # the drain's backlog, released at once
BACKLOG_FILES = 4
MALFORMED = 0.01
DUPLICATE = 0.02
N_TAGS = 400

WORDS = ("spark stream flink window watermark state batch trend data the a "
         "of and to in rt news live sport music game city love today now "
         "big fast new night team").split()
LANGS = ["en", "es", "de", "fr", "ja", "pt"]
SYLL = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "zo", "be", "do"]


def hashtag_vocab():
    tags = []
    for i in range(N_TAGS):
        a, b, c = i % 10, (i // 10) % 10, i // 100
        tags.append("#" + SYLL[a] + SYLL[b] + SYLL[c])
    return tags


def _tweet(rng, tags, cum, virtual_ms):
    n_tags = rng.choices([0, 1, 2, 3], weights=[25, 40, 25, 10])[0]
    words = [rng.choice(WORDS) for _ in range(rng.randint(3, 12))]
    for t in rng.choices(tags, cum_weights=cum, k=n_tags):
        words.insert(rng.randint(0, len(words)), t)
    lag = rng.randint(0, JITTER_MS) if rng.random() < 0.5 else rng.randint(0, 2000)
    created = BASE_MS + virtual_ms * EVENT_SPEED - lag
    return json.dumps({"text": " ".join(words), "createdAt": created,
                       "lang": rng.choice(LANGS)}, separators=(",", ":"))


def tweets(seed, seconds):
    """Returns (lines, sched_ms, chunks): the payload lines, each line's
    scheduled send time relative to the open-loop start, and the chunks as
    (phase, release_ms, first_line, n_lines). Phases: 0 the cold first
    chunk, 1 the unmeasured open loop, 2 the measured open loop (`seconds`
    long, continuing phase 1's schedule), 3 the drain backlog."""
    rng = random.Random(seed)
    tags = hashtag_vocab()
    rng.shuffle(tags)  # the seed picks which tags are popular
    cum, acc = [], 0.0
    for r in range(len(tags)):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)

    lines, sched, chunks = [], [], []

    def emit(virtual_ms, sched_ms):
        u = rng.random()
        if u < MALFORMED:
            line = '{"text":"broken ' + rng.choice(WORDS) + '","createdAt":'
        elif u < MALFORMED + DUPLICATE and lines:
            line = lines[rng.randrange(max(0, len(lines) - 500), len(lines))]
        else:
            line = _tweet(rng, tags, cum, virtual_ms)
        lines.append(line)
        sched.append(sched_ms)

    # phase 0: cold first chunk, event time [0, 1 s)
    for i in range(WARMUP):
        emit(i * 1000 // WARMUP, 0)
    chunks.append((0, 0, 0, WARMUP))
    # phases 1 and 2: one open loop at RATE, event time from 1 s on
    per_chunk = RATE * CHUNK_MS // 1000
    warm_chunks = WARM_LOOP_S * 1000 // CHUNK_MS
    n_chunks = warm_chunks + int(seconds * 1000 // CHUNK_MS)
    for c in range(n_chunks):
        first = len(lines)
        for j in range(per_chunk):
            s = c * CHUNK_MS + j * CHUNK_MS // per_chunk
            emit(1000 + s, s)
        chunks.append((1 if c < warm_chunks else 2, (c + 1) * CHUNK_MS, first, per_chunk))
    # phase 3: the drain backlog, event time continuing at the open-loop
    # rate
    v0 = 1000 + n_chunks * CHUNK_MS
    per_file = BACKLOG_TWEETS // BACKLOG_FILES
    for f in range(BACKLOG_FILES):
        first = len(lines)
        for j in range(per_file):
            emit(v0 + (f * per_file + j) * 1000 // RATE, 0)
        chunks.append((3, 0, first, per_file))
    return lines, sched, chunks


def write_tweets(seed, seconds, out_dir):
    lines, sched, chunks = tweets(seed, seconds)
    with open(f"{out_dir}/tweets.jsonl", "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    with open(f"{out_dir}/sched.txt", "w") as f:
        f.write("\n".join(map(str, sched)) + "\n")
    with open(f"{out_dir}/chunks.tsv", "w") as f:
        f.write("".join("\t".join(map(str, c)) + "\n" for c in chunks))


INGEST_CORPUS_DOCS = 250           # the corpus build is most of a run's set-up
INGEST_BATCHES = 3
INGEST_BATCH_DOCS = 40
# copy: a corpus text verbatim (the Bloom stage's share); near: a corpus
# text with its tokens reordered, so the same token bag and SimHash (the
# SimHash stage's share); para: a corpus text with a few out-of-vocabulary
# tokens added, so the same embedding but a shifted SimHash (the SimHash or
# the semantic stage's share); lowq: short stopword runs (the quality
# gate's share); fresh: out-of-vocabulary text, admitted. Every duplicate
# is one the screens must reject, so any admitted duplicate is an error.
INGEST_MIX = [("copy", 0.2), ("near", 0.2), ("para", 0.2), ("lowq", 0.1), ("fresh", 0.3)]
DUPLICATES = ("copy", "near", "para")
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def _oov(rng, vocab):
    return f"{rng.choice(vocab)}{rng.choice(SYLL)}{rng.randint(0, 999)}"


def ingest_batches(seed, corpus_texts):
    """Returns a list of batches, each a list of (doc_id, text, label)."""
    rng = random.Random(seed)
    vocab = sorted({w for t in corpus_texts for w in t.split(" ") if w})
    batches = []
    for k in range(INGEST_BATCHES):
        rows = []
        for label, share in INGEST_MIX:
            for _ in range(int(INGEST_BATCH_DOCS * share)):
                if label == "copy":
                    text = rng.choice(corpus_texts)
                elif label == "near":
                    src = rng.choice(corpus_texts)
                    toks = src.split(" ")
                    while " ".join(toks) == src:
                        rng.shuffle(toks)
                    text = " ".join(toks)
                elif label == "para":
                    toks = rng.choice(corpus_texts).split(" ")
                    for _ in range(3):
                        toks.insert(rng.randint(0, len(toks)), _oov(rng, vocab))
                    text = " ".join(toks)
                elif label == "lowq":
                    text = " ".join(rng.choice(STOPWORDS + vocab[:3])
                                    for _ in range(rng.randint(4, 15)))
                else:
                    text = " ".join(_oov(rng, vocab) for _ in range(rng.randint(25, 80)))
                rows.append([text, label])
        rng.shuffle(rows)
        batches.append([(10_000_000 + k * 100_000 + i, t, lab)
                        for i, (t, lab) in enumerate(rows)])
    return batches


def write_ingest(seed, documents_path, out_dir):
    """Writes the corpus (`corpus.parquet`: the first INGEST_CORPUS_DOCS
    documents by doc_id) and the batches (`batch-<k>.parquet`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pq.read_table(documents_path, columns=["doc_id", "text"]).sort_by("doc_id")
    table = table.slice(0, INGEST_CORPUS_DOCS)
    pq.write_table(table, f"{out_dir}/corpus.parquet")
    corpus = table.column("text").to_pylist()
    for k, rows in enumerate(ingest_batches(seed, corpus)):
        table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                          "text": pa.array([r[1] for r in rows], pa.string()),
                          "label": pa.array([r[2] for r in rows], pa.string())})
        pq.write_table(table, f"{out_dir}/batch-{k}.parquet")


def query_order(seed, queries):
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order
