"""Seeded input generators. Every input a workload feeds the engine comes
from here, and the same seed always gives the same inputs.

The search corpus draws its tokens from a Zipfian vocabulary so that head,
torso and tail terms have very different match-set sizes (a uniform
vocabulary would make every term match most documents, and index
selectivity would never matter).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.5, 0.15, 0.15, 0.1, 0.1)
_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOWS]          # 70 syllables


def word(i: int) -> str:
    """Unique six-letter lowercase word for vocabulary id ``i`` < 70³. One
    length for every word keeps fuzzy and prefix expansions comparable
    from seed to seed."""
    n = len(_SYL)
    return _SYL[i % n] + _SYL[(i // n) % n] + _SYL[(i // (n * n)) % n]


class Vocabulary:
    """``size`` words ranked by a Zipf(1.0) law; the seed decides which
    word holds which rank."""

    def __init__(self, rng: np.random.Generator, size: int):
        self.words = [word(i) for i in rng.permutation(size)]
        self.rank = {w: r for r, w in enumerate(self.words)}
        self._array = np.array(self.words, dtype=object)
        p = 1.0 / (np.arange(size) + 2.7)
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """``n`` vocabulary ids drawn by rank frequency."""
        ids = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(ids, len(self.words) - 1)

    def text(self, rng: np.random.Generator, n: int) -> str:
        return " ".join(self._array[self.draw(rng, n)])

    def rank_band(self, band: str) -> tuple[int, int]:
        """Narrow rank bands: the seed picks the word, the band fixes how
        many documents it is in, so match-set sizes stay alike across
        seeds."""
        n = len(self.words)
        return {"head": (2, 10), "torso": (200, 300),
                "tail": (n // 2, n // 2 + 100)}[band]

    def pick(self, rng: np.random.Generator, band: str) -> str:
        lo, hi = self.rank_band(band)
        return self.words[int(rng.integers(lo, hi))]


def corpus(rng: np.random.Generator, vocab: Vocabulary, n_docs: int,
           min_tokens: int = 20, max_tokens: int = 80) -> dict[str, list]:
    """Documents table: doc_id, text, lang, n_chars."""
    lengths = rng.integers(min_tokens, max_tokens + 1, size=n_docs)
    texts = [vocab.text(rng, int(n)) for n in lengths]
    return {"doc_id": list(range(n_docs)), "text": texts,
            "lang": list(rng.choice(LANGS, size=n_docs, p=LANG_P)),
            "n_chars": [len(t) for t in texts]}


def write_parquet(columns: dict[str, list], path: str,
                  schema: pa.Schema | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)
    return path


# -- search_read request mix --------------------------------------------------

# Kinds and their counts in one pass over the request pool. Fixed counts
# keep the mix (and so the latency distribution) the same for every seed;
# the seed picks only the terms. Two or more requests of each kind, each
# with its own terms, average over the seed's word choices: with one each,
# timed twice, the median latency moved by a quarter from seed to seed.
SEARCH_MIX = (
    ("term_head", 2), ("term_torso", 4), ("term_tail", 2), ("bool_and", 2),
    ("bool_or", 2), ("phrase", 2), ("prefix", 2), ("fuzzy", 2),
    ("range", 2), ("match_bm25", 2), ("must_not", 2),
)


def search_requests(rng: np.random.Generator, vocab: Vocabulary,
                    docs: dict[str, list]) -> list[dict]:
    """One pass of search_read requests: ``{"kind", "query", "limit"}``.
    Every request is capped (a DSL ``size`` or a ``limit``) so hit sets
    stay bounded; every second query-string request turns row loading
    off."""
    out = []
    for kind, count in SEARCH_MIX:
        for _ in range(count):
            q = _request(rng, vocab, docs, kind, len(out) % 2 == 1)
            out.append({"kind": kind, "query": q,
                        "limit": None if q.startswith("{") else 100})
    rng.shuffle(out)
    return out


def _request(rng, vocab, docs, kind, rows_off):
    pre = "#options:load-rows=false#" if rows_off else ""
    pick = vocab.pick
    if kind.startswith("term_"):
        return pre + f"text:{pick(rng, kind[5:])}"
    if kind == "bool_and":
        return pre + f"text:{pick(rng, 'head')} AND text:{pick(rng, 'torso')}"
    if kind == "bool_or":
        return (pre + f"(text:{pick(rng, 'torso')} OR text:"
                f"{pick(rng, 'tail')}) AND NOT text:{pick(rng, 'head')}")
    if kind == "phrase":
        # a bigram that occurs, of two mid-frequency words: a head word's
        # position list would make the phrase's cost swing with the seed
        while True:
            toks = docs["text"][int(rng.integers(len(docs["text"])))].split()
            at = int(rng.integers(len(toks) - 1))
            pair = toks[at:at + 2]
            if all(20 <= vocab.rank[w] < 2000 for w in pair):
                return pre + f'text:"{pair[0]} {pair[1]}"'
    if kind == "prefix":
        return pre + f"text:{pick(rng, 'torso')[:3]}*"
    if kind == "fuzzy":
        return pre + f"text:{pick(rng, 'torso')}~1"
    if kind == "range":
        lo = int(rng.integers(150, 400))
        return json.dumps({"query": {"range": {"n_chars": {
            "gte": lo, "lte": lo + 8}}}, "size": 200})
    if kind == "match_bm25":
        terms = " ".join(pick(rng, b) for b in ("head", "torso", "tail"))
        return json.dumps({"query": {"match": {"text": terms}}, "size": 10})
    if kind == "must_not":
        return json.dumps({"query": {"bool": {"must_not": [
            {"term": {"text": pick(rng, "head")}}]}}, "size": 20})
    raise ValueError(kind)


# -- mixed_read_write: an emails-like table and its mutation stream ------------

EMAILS_SCHEMA = pa.schema([("id", pa.string()), ("subject", pa.string()),
                           ("body", pa.string()), ("userid", pa.int32()),
                           ("expire_at", pa.int64())])
BATCH_SCHEMA = ("ts timestamp, op string, id string, subject string, "
                "body string, userid int, expire_at long")
N_USERS = 1000
# Share of each op in a batch; every key appears at most once per batch.
OP_MIX = (("insert", 0.25), ("update", 0.5), ("partition_delete", 0.1),
          ("empty_update", 0.15))
TTL_SHARE = 0.1          # upserts that carry a TTL
TTL_AHEAD_S = 5          # ...expiring this long after their batch
BATCH_EVERY_S = 10       # logical seconds between batches


class EmailsModel:
    """The table as the benchmark knows it: what every probe and search
    must return is computed from here, never read back from the engine."""

    def __init__(self, rng: np.random.Generator, vocab: Vocabulary,
                 n_rows: int, epoch_s: int):
        self.rng, self.vocab, self.epoch_s = rng, vocab, epoch_s
        self.live: dict[str, dict] = {}
        self.next_id = 0
        for _ in range(n_rows):
            self._put(self._new_id(), tag=None, expire_at=None)

    def _new_id(self) -> str:
        self.next_id += 1
        return f"e{self.next_id:07d}"

    def _row(self, tag, expire_at) -> dict:
        rng, vocab = self.rng, self.vocab
        body = vocab.text(rng, int(rng.integers(15, 41)))
        if tag is not None:
            body = f"{tag} {body}"
        subject = vocab.text(rng, int(rng.integers(3, 7)))
        return {"subject": subject, "body": body,
                "userid": int(rng.integers(N_USERS)), "expire_at": expire_at,
                "tag": tag, "tokens": frozenset(body.split())}

    def _put(self, key, tag, expire_at) -> dict:
        self.live[key] = self._row(tag, expire_at)
        return self.live[key]

    def table(self) -> dict[str, list]:
        keys = sorted(self.live)
        return {"id": keys,
                **{c: [self.live[k][c] for k in keys]
                   for c in ("subject", "body", "userid", "expire_at")}}

    def now(self, n: int) -> int:
        return self.epoch_s + BATCH_EVERY_S * (n + 1)

    @staticmethod
    def tag(seed: int, n: int) -> str:
        return f"tagq{seed}x{n}"

    def batch(self, seed: int, n: int, size: int) -> list[tuple]:
        """Batch ``n``: ``size`` mutations, applied to the model as they
        are generated, as rows of ``BATCH_SCHEMA``."""
        import datetime

        rng, now = self.rng, self.now(n)
        counts = [int(round(size * share)) for _, share in OP_MIX]
        existing = rng.choice(sorted(self.live), size=sum(counts[1:]),
                              replace=False)
        plan = ([("insert", self._new_id()) for _ in range(counts[0])]
                + [(op, k) for op, k in zip(
                    [op for (op, _), c in zip(OP_MIX[1:], counts[1:])
                     for _ in range(c)], existing)])
        rng.shuffle(plan)
        t0 = datetime.datetime.fromtimestamp(now, datetime.timezone.utc)
        rows = []
        for i, (op, key) in enumerate(plan):
            ts = t0 + datetime.timedelta(milliseconds=i)
            if op in ("insert", "update"):
                ttl = now + TTL_AHEAD_S if rng.random() < TTL_SHARE else None
                r = self._put(key, self.tag(seed, n), ttl)
                rows.append((ts, op, key, r["subject"], r["body"],
                             r["userid"], ttl))
            else:
                if op == "partition_delete":
                    del self.live[key]
                rows.append((ts, op, key, None, None, None, None))
        return rows

    def expire(self, now_s: int) -> None:
        """The TTL sweep: documents whose expiry is at or before now go."""
        for k in [k for k, r in self.live.items()
                  if r["expire_at"] is not None and r["expire_at"] <= now_s]:
            del self.live[k]

    def tagged(self, *tags: str) -> set[str]:
        return {k for k, r in self.live.items() if r["tag"] in tags}

    def user_bytes(self) -> int:
        """Bytes of user data in the live table: the UTF-8 text fields plus
        4 bytes per int and 8 per expiry."""
        return sum(len(k) + len(r["subject"]) + len(r["body"]) + 4
                   + (8 if r["expire_at"] is not None else 0)
                   for k, r in self.live.items())

    def search(self, n: int) -> tuple[str, set[str]]:
        """The read request run after batch ``n``, with the id set it must
        return: by turns a torso term, a two-term AND and a DSL range on
        userid (row loading on), all uncapped so the answer is an exact
        set."""
        rng, pick, live = self.rng, self.vocab.pick, self.live.items()
        if n % 3 == 0:
            w = pick(rng, "torso")
            return (f"#options:load-rows=false#body:{w}",
                    {k for k, r in live if w in r["tokens"]})
        if n % 3 == 1:
            w1, w2 = pick(rng, "torso"), pick(rng, "head")
            return (f"#options:load-rows=false#body:{w1} AND body:{w2}",
                    {k for k, r in live
                     if w1 in r["tokens"] and w2 in r["tokens"]})
        lo = int(rng.integers(N_USERS - 6))
        return (json.dumps({"query": {"range": {"userid": {
            "gte": lo, "lte": lo + 5}}}}),
            {k for k, r in live if lo <= r["userid"] <= lo + 5})


# -- operators_batch: the registry's documents/embeddings/orders/lineitem ------

_DAY_US = 86_400 * 10**6
_1995_US = 788_918_400 * 10**6           # 1995-01-01T00:00:00Z


def operator_tables(rng: np.random.Generator, scale: float
                    ) -> dict[str, pa.Table]:
    """Seeded tables in the column layout ``__spark_entry__.queries()``
    reads. ``scale`` 1.0 gives 500 documents and embeddings, 15,000 orders
    and 60,000 lineitems. As in the registry's own test data, document
    text is drawn uniformly from a 31-word vocabulary, so the frequent
    item-set and dedup operators see dense co-occurrence."""
    n_docs, n_orders = max(20, int(500 * scale)), max(100, int(15_000 * scale))
    n_items = 4 * n_orders
    words = np.array([word(i) for i in rng.permutation(70 * 70)[:31]],
                     dtype=object)
    lengths = rng.integers(10, 100, size=n_docs)
    texts = [" ".join(words[rng.integers(0, 31, size=n)]) for n in lengths]
    emb = rng.standard_normal((n_docs, 64)).astype(np.float32)
    # A tenth of the documents repeat an earlier one with one word changed,
    # and their embeddings sit next to that one's, so the dedup operators
    # have near-duplicates to find (random texts and vectors have none).
    for i in rng.choice(np.arange(1, n_docs), size=n_docs // 10,
                        replace=False):
        src = int(rng.integers(i))
        toks = texts[src].split()
        toks[int(rng.integers(len(toks)))] = words[int(rng.integers(31))]
        texts[i] = " ".join(toks)
        emb[i] = emb[src] + 0.05 * rng.standard_normal(64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)

    def days(n, span):
        return pa.array(_1995_US + rng.integers(0, span, size=n) * _DAY_US,
                        pa.timestamp("us"))

    def choice(values, n):
        return pa.array(rng.choice(values, size=n).tolist(), pa.string())

    return {
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n_docs,
                                        p=LANG_P).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_docs), pa.int32())}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 1500, size=n_orders),
                                  pa.int64()),
            "o_orderstatus": choice(["P", "O", "F"], n_orders),
            "o_totalprice": pa.array(np.round(
                rng.uniform(1000, 500_000, size=n_orders), 2)),
            "o_orderdate": days(n_orders, 2404),
            "o_orderpriority": choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"],
                                      n_orders)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, size=n_items),
                                   pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, size=n_items),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, size=n_items),
                                  pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_items),
                                     pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, size=n_items).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(
                rng.uniform(900, 105_000, size=n_items), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_items) / 100),
            "l_tax": pa.array(rng.integers(0, 9, size=n_items) / 100),
            "l_returnflag": choice(["A", "N", "R"], n_items),
            "l_linestatus": choice(["O", "F"], n_items),
            "l_shipdate": days(n_items, 2499)}),
    }
