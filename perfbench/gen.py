"""Seeded workload generator for the RAG benchmark.

The same (workload, seed) always yields byte-identical JSON: every random
draw comes from one `random.Random(seed)` and the output is serialised with
sorted keys. The engine sees only what this module writes.

Corpus text is drawn from a synthetic vocabulary with Zipf-skewed word
frequencies, so BM25 document frequencies and embedding collisions look like
natural text rather than uniform noise. Questions reuse the same vocabulary
and are biased towards one document, so retrieval has a real answer.
"""

import json
import random

VOCAB_SIZE = 4000
ZIPF_S = 1.1
CHUNK_SIZE = 200  # characters per chunk, the chunker's setting in the harness
SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]

# Per-workload sizes. `docs` is the corpus the timed loop works on.
SIZES = {
    # one E1 build per timed iteration, so the corpus is a bulk batch
    "ingest": {"docs": 60, "words": (90, 200)},
    # several times ingest's corpus, so scoring rows is a visible cost
    "chat": {"docs": 360, "words": (90, 200), "users": 24,
             "requests": 400, "warmup": 12},
    "churn": {"docs": 120, "words": (90, 200), "cycles": 60,
              "upsert_docs": 6, "delete_docs": 4},
}

# One churn cycle: served reads between an upsert batch, a delete batch
# and a compaction. The harness stops only at cycle boundaries, so every
# run measures the same op mix.
CHURN_CYCLE = ["read", "upsert", "read", "delete", "read", "compact"]


def vocabulary(rng):
    """VOCAB_SIZE distinct three-syllable words: equal word lengths keep
    text bytes, and so chunk counts, the same for every seed."""
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(SYLLABLES) for _ in range(3))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_cum_weights(n, s=ZIPF_S):
    total, cum = 0.0, []
    for rank in range(1, n + 1):
        total += 1.0 / rank ** s
        cum.append(total)
    return cum


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.vocab = vocabulary(self.rng)
        self.cum = zipf_cum_weights(len(self.vocab))

    def words(self, n):
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=n)

    def document(self, n):
        ws = self.words(n)
        # sentences of 6-14 words, paragraphs of 2-5 sentences
        sents, i = [], 0
        while i < n:
            k = self.rng.randint(6, 14)
            sents.append(" ".join(ws[i:i + k]))
            i += k
        paras, j = [], 0
        while j < len(sents):
            k = self.rng.randint(2, 5)
            paras.append(". ".join(sents[j:j + k]) + ".")
            j += k
        return "\n\n".join(paras)

    def docs(self, first_id, n, words):
        """n documents whose lengths spread evenly over `words` in seeded
        order, so every seed has the same total length."""
        lo, hi = words
        lengths = [lo + (hi - lo) * i // max(1, n - 1) for i in range(n)]
        self.rng.shuffle(lengths)
        return [{"doc_id": first_id + i, "text": self.document(k)}
                for i, k in enumerate(lengths)]

    def question(self, about):
        """3-8 words: half drawn from the target document, half from the
        vocabulary at large."""
        n = self.rng.randint(3, 8)
        own = [w.strip(".") for w in about.split()]
        ws = [self.rng.choice(own) if self.rng.random() < 0.5
              else self.words(1)[0] for _ in range(n)]
        return " ".join(ws)

    def request(self, users, corpus, qid):
        n = self.rng.randint(1, 8)
        qs = []
        for _ in range(n):
            qs.append({"query_id": qid, "text":
                       self.question(self.rng.choice(corpus)["text"])})
            qid += 1
        return {"user_id": self.rng.randrange(users), "questions": qs}, qid


def generate(workload, seed):
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    size = SIZES[workload]
    g = Gen(seed)
    corpus = g.docs(1, size["docs"], size["words"])
    out = {"workload": workload, "seed": seed, "chunk_size": CHUNK_SIZE,
           "docs": corpus}
    if workload == "chat":
        qid, reqs = 1, []
        for _ in range(size["warmup"] + size["requests"]):
            r, qid = g.request(size["users"], corpus, qid)
            reqs.append(r)
        out["warmup"] = reqs[:size["warmup"]]
        out["requests"] = reqs[size["warmup"]:]
    elif workload == "churn":
        out["cycle"] = len(CHURN_CYCLE)
        out["ops"] = churn_ops(g, size, corpus)
    out["properties"] = properties(out)
    return out


def churn_ops(g, size, corpus):
    alive = [d["doc_id"] for d in corpus]
    texts = {d["doc_id"]: d["text"] for d in corpus}
    next_id, qid, ops = len(corpus) + 1, 1, []
    for kind in CHURN_CYCLE * size["cycles"]:
        if kind == "read":
            qs = []
            for _ in range(g.rng.randint(1, 8)):
                qs.append({"query_id": qid,
                           "text": g.question(texts[g.rng.choice(alive)])})
                qid += 1
            ops.append({"op": "read", "questions": qs})
        elif kind == "upsert":
            new = g.docs(next_id, size["upsert_docs"], size["words"])
            next_id += len(new)
            for d in new:
                alive.append(d["doc_id"])
                texts[d["doc_id"]] = d["text"]
            ops.append({"op": "upsert", "docs": new})
        elif kind == "delete":
            victims = g.rng.sample(alive, size["delete_docs"])
            for v in victims:
                alive.remove(v)
            ops.append({"op": "delete", "doc_ids": sorted(victims)})
        else:
            ops.append({"op": "compact"})
    return ops


def properties(inputs):
    """Input properties the benchmark's behaviour depends on."""
    docs = inputs["docs"]
    props = {"docs": len(docs),
             "text_bytes": sum(len(d["text"].encode()) for d in docs),
             "vocabulary": VOCAB_SIZE, "zipf_s": ZIPF_S,
             "chunk_size": CHUNK_SIZE}
    questions = []
    if "requests" in inputs:
        questions = [r["questions"] for r in inputs["requests"]]
    elif "ops" in inputs:
        questions = [o["questions"] for o in inputs["ops"] if o["op"] == "read"]
        kinds = [o["op"] for o in inputs["ops"]]
        props["op_mix"] = {k: kinds.count(k) for k in sorted(set(kinds))}
    if questions:
        words = [len(q["text"].split()) for r in questions for q in r]
        props["questions_per_request"] = [min(map(len, questions)),
                                          max(map(len, questions))]
        props["question_words"] = [min(words), max(words)]
        props["mean_question_words"] = round(sum(words) / len(words), 3)
    return props


def dumps(inputs):
    return json.dumps(inputs, sort_keys=True, separators=(",", ":"))
