"""Seeded input generator for the benchmark workloads.

Every input the engine sees is written here, from the seed alone; the
same seed gives byte-identical files.  ``generate`` returns the
parameters the JVM side reads (``params.properties``) together with the
measured properties of the generated input, so a later claim such as
"helps only tweets with a location" can cite the share.
"""

import json
import random

# Terms the engine's NER stage recognises (graft.operators.Neel.dictionary).
# Tweets draw entity mentions from this list; filler words never contain one.
DICTIONARY = ("spark", "stream", "window", "vector", "merge", "filter", "join", "hash")
LETTERS = "abcdefghiklmnoprstuvwy"

# Reference constants the stream settings are compared against
# (BASELINE.md): 15 s stream-mode deadline, 3 s RPC windows, 4 rows/s cap.
DEADLINE_MS = 15000
TRIGGER_MS = 1000

NEEL_RATE = 500          # tweets/s offered to neel-stream
FANIN_RATE = 300         # tweets/s offered to fanin-stream (4 partials each)
WARM_BATCHES = 5         # micro-batches that warm a measured query in (set-up)
FANIN_SPREAD_MS = 1500   # arrival spread between one tweet's partials
FANIN_EARLY_S = 1.0      # incomplete tweets are seeded in this first stretch
DEDUP_RESIDENT = 3000
DEDUP_BATCH = 100
DEDUP_BATCHES = 40       # pool; the closed loop stops at the run's time limit

SHARES = {
    "entity": 0.7,       # tweets given 1-3 dictionary mentions
    "location": 0.75,
    "retweet": 0.1,
    "malformed": 0.02,
    "missing_partial": 0.06,  # of fanin tweets in the early stretch
    "orphan": 0.03,           # of fanin tweets in the early stretch
    "dedup_exact": 0.1,
    "dedup_near": 0.1,
}


def vocabulary(rng, n):
    words = []
    seen = set()
    while len(words) < n:
        w = "".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9)))
        if w in seen or any(t in w for t in DICTIONARY):
            continue
        seen.add(w)
        words.append(w)
    return words


def tweet_text(rng, words, p_entity):
    text = [rng.choice(words) for _ in range(rng.randint(6, 16))]
    if rng.random() < p_entity:
        for term in rng.sample(DICTIONARY, rng.randint(1, 3)):
            text.insert(rng.randrange(len(text) + 1), term)
    return " ".join(text)


def entity_hits(text):
    return sum(1 for t in DICTIONARY if t in text)


class Props:
    """Running counts of the properties a workload's input has."""

    def __init__(self):
        self.n = 0
        self.hits = 0
        self.location = 0
        self.retweet = 0
        self.malformed = 0

    def shares(self):
        n = max(1, self.n)
        return {
            "tweets": self.n,
            "entity_hits_per_tweet": self.hits / n,
            "location_share": self.location / n,
            "retweet_share": self.retweet / n,
            "malformed_share": self.malformed / n,
        }


def tweet_json(rng, tid, words, props):
    """One tweet in the twitter4j JSON subset the pipeline parses."""
    text = tweet_text(rng, words, SHARES["entity"])
    uid = rng.randrange(1, 5000)
    location = f"city_{rng.randrange(50)}" if rng.random() < SHARES["location"] else None
    retweet = rng.random() < SHARES["retweet"]
    line = json.dumps({
        "id": tid, "text": text, "retweeted": retweet,
        "user": {"id": uid, "name": f"user_{uid}", "screen_name": f"u{uid}",
                 "location": location},
    }, separators=(",", ":"))
    props.n += 1
    props.hits += entity_hits(text)
    props.location += location is not None
    props.retweet += retweet
    if rng.random() < SHARES["malformed"]:
        props.malformed += 1
        return line[: rng.randint(5, len(line) // 2)], 0
    return line, tid


def write_csv(path, ids_path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write("value\n")
        for line, _ in lines:
            f.write(line + "\n")
    if ids_path:
        with open(ids_path, "w", encoding="utf-8") as f:
            for _, tid in lines:
                f.write(f"{tid}\n")


def gen_neel_stream(rng, out, seconds):
    words = vocabulary(rng, 3000)
    props = Props()
    rows = [tweet_json(rng, 1_000_000 + i, words, props)
            for i in range((WARM_BATCHES + seconds) * NEEL_RATE)]
    write_csv(f"{out}/stream.csv", f"{out}/stream.ids", rows)
    params = {"rows_per_trigger": NEEL_RATE, "trigger_ms": TRIGGER_MS,
              "warm_batches": WARM_BATCHES, "measure_batches": seconds,
              "deadline_ms": DEADLINE_MS, "rate_per_s": NEEL_RATE}
    return params, props.shares()


def write_docs(path, docs):
    with open(path, "w", encoding="utf-8") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}, separators=(",", ":")) + "\n")


def gen_fanin_stream(rng, out, seconds):
    """Documents for ``FanIn.taggedPartials`` plus the arrival plan.

    The engine derives a tweet's four partials from its document; the
    plan gives each partial an arrival offset and, for a seeded share of
    the tweets created in the first ``FANIN_EARLY_S`` seconds, drops one
    partial (the tweet then times out with a partial result) or the
    status (an orphan the fan-in purges silently).  Confining them to
    the early stretch lets the 15 s timeouts fire within the run.
    """
    words = vocabulary(rng, 3000)
    # the stream has to outlast the early tweets' timeouts anyway: warm
    # the query in over that span rather than idle after the measurement
    warm = max(WARM_BATCHES, (DEADLINE_MS + 2 * TRIGGER_MS) // TRIGGER_MS - seconds)
    # taggedPartials skips retweets (doc_id % 7 == 0): over-provision by 7/6
    n_docs = (warm + seconds) * FANIN_RATE * 7 // 6 + FANIN_RATE
    early = int(FANIN_EARLY_S * FANIN_RATE * 7 / 6)
    docs = [(1 + i, tweet_text(rng, words, SHARES["entity"])) for i in range(n_docs)]
    plan = []
    dropped = {"missing_partial": 0, "orphan": 0}
    kinds = ("linkedTweet", "resource", "decodedLocation")
    for i, (doc_id, _) in enumerate(docs):
        offsets = [rng.randrange(FANIN_SPREAD_MS + 1) for _ in range(4)]
        drop = "-"
        u = rng.random()
        if i < early and u < SHARES["orphan"]:
            drop = "status"
            dropped["orphan"] += 1
        elif i < early and u < SHARES["orphan"] + SHARES["missing_partial"]:
            drop = rng.choice(kinds)
            dropped["missing_partial"] += 1
        plan.append((doc_id, *offsets, drop))
    write_docs(f"{out}/fanin_docs.jsonl", docs)
    with open(f"{out}/fanin_plan.tsv", "w", encoding="utf-8") as f:
        for row in plan:
            f.write("\t".join(str(x) for x in row) + "\n")
    params = {"rows_per_trigger": 4 * FANIN_RATE, "trigger_ms": TRIGGER_MS,
              "warm_batches": warm, "measure_batches": seconds,
              "deadline_ms": DEADLINE_MS, "rate_per_s": FANIN_RATE,
              "tweets": (warm + seconds) * FANIN_RATE,
              "spread_ms": FANIN_SPREAD_MS}
    hits = sum(entity_hits(t) for _, t in docs)
    props = {"docs": len(docs), "entity_hits_per_tweet": hits / len(docs),
             "location_share": sum(1 for d, _ in docs if d % 5 != 0) / len(docs),
             "retweet_share": sum(1 for d, _ in docs if d % 7 == 0) / len(docs),
             "spread_ms_max": FANIN_SPREAD_MS,
             "missing_partial_share": dropped["missing_partial"] / len(docs),
             "orphan_share": dropped["orphan"] / len(docs)}
    return params, props


def gen_dedup_ingest(rng, out, seconds):
    """A resident corpus and a pool of arriving batches.

    Each arriving document is an exact copy of a resident one (must be
    rejected), a near-duplicate (one word changed; the verdict is the
    sketch's, so it is measured, not checked) or seeded-unique text
    (must be admitted)."""
    words = vocabulary(rng, 6000)

    def text():
        return " ".join(rng.choice(words) for _ in range(rng.randint(30, 50)))

    resident = [(1 + i, text()) for i in range(DEDUP_RESIDENT)]
    batches = []
    counts = {"exact": 0, "near": 0, "unique": 0}
    next_id = 1_000_000
    for b in range(DEDUP_BATCHES):
        for _ in range(DEDUP_BATCH):
            u = rng.random()
            if u < SHARES["dedup_exact"]:
                kind, t = "exact", rng.choice(resident)[1]
            elif u < SHARES["dedup_exact"] + SHARES["dedup_near"]:
                ws = rng.choice(resident)[1].split(" ")
                ws[rng.randrange(len(ws))] = rng.choice(words)
                kind, t = "near", " ".join(ws)
            else:
                kind, t = "unique", text()
            counts[kind] += 1
            batches.append((b, next_id, kind, t))
            next_id += 1
    write_docs(f"{out}/resident.jsonl", resident)
    with open(f"{out}/batches.jsonl", "w", encoding="utf-8") as f:
        for b, doc_id, kind, t in batches:
            f.write(json.dumps({"batch": b, "doc_id": doc_id, "kind": kind, "text": t},
                               separators=(",", ":")) + "\n")
    n = len(batches)
    params = {"batch_size": DEDUP_BATCH, "batches": DEDUP_BATCHES, "seconds": seconds}
    props = {"resident_docs": len(resident), "exact_copy_share": counts["exact"] / n,
             "near_duplicate_share": counts["near"] / n,
             "unique_share": counts["unique"] / n}
    return params, props


GENERATORS = {
    "neel-stream": gen_neel_stream,
    "fanin-stream": gen_fanin_stream,
    "dedup-ingest": gen_dedup_ingest,
}


def generate(workload, seed, seconds, out):
    """Write ``workload``'s inputs for ``seed`` into ``out``; return
    (params, measured input properties)."""
    rng = random.Random(f"{workload}:{seed}")
    params, props = GENERATORS[workload](rng, out, seconds)
    params = dict(params, seed=seed)
    with open(f"{out}/params.properties", "w", encoding="utf-8") as f:
        for k, v in sorted(params.items()):
            f.write(f"{k}={v}\n")
    return params, props
