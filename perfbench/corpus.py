"""Seeded crawl-shaped text corpus for the `text` workload (curation and ingest).

The corpus is built in plain Python from one seed, so the program under
test receives only the generated rows. The seed sets three properties the
curation chain's work depends on:

- the re-crawl replica share: a replica is a copy of an earlier document
  under `doc_id + REPLICA_OFFSET` whose text differs only inside its PII
  fragments, so PII redaction collapses it onto its source and exact
  dedup must remove it;
- the PII density: the share of documents carrying email / phone / IPv4 /
  SSN fragments rendered from the document's own id;
- the language skew: a Zipf exponent over the language mix.

Short and symbol-heavy documents give the quality filter work, and a few
shared boilerplate sentences give duplicate-span removal real cross-document
spans to cut.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REPLICA_OFFSET = 10_000_000
LANGS = ("en", "de", "fr", "es", "it")
SCHEMA_DDL = "doc_id long, lang string, text string"
_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("lang", pa.string()), ("text", pa.string())]
)
_SYLLABLES = (
    "ka", "to", "ri", "mel", "sun", "va", "lo", "pe", "dra", "ni",
    "qu", "es", "ta", "bor", "lin", "ge", "mo", "fa", "sch", "ur",
)
_BOILERPLATE = (
    "subscribe to our newsletter for weekly updates and member offers",
    "all rights reserved by the original publisher of this archived page",
    "click here to continue reading the full story on our partner site",
)
_PII = ("email", "phone", "ipv4", "ssn")


def _vocab(rng: random.Random, lang: str, size: int = 300) -> list[str]:
    words = set()
    while len(words) < size:
        n = rng.randint(1, 4)
        words.add(lang[0] + "".join(rng.choice(_SYLLABLES) for _ in range(n)))
    return sorted(words)


def _render_pii(kind: str, doc_id: int) -> str:
    if kind == "email":
        return f"reach user{doc_id}@mail.example.com or desk@news.example.org"
    if kind == "phone":
        return f"call 555-{doc_id % 1000:03d}-{doc_id % 9000 + 1000:04d} now"
    if kind == "ipv4":
        return f"host 10.{doc_id % 250}.{doc_id // 250 % 250}.7 answered"
    return "ssn 078-05-1120 on file"


class Doc:
    """One crawled page: fixed body words plus PII fragments that are
    rendered from whichever id the page is stored under."""

    __slots__ = ("lang", "body", "pii", "tail")

    def __init__(self, lang: str, body: str, pii: tuple[str, ...], tail: str):
        self.lang, self.body, self.pii, self.tail = lang, body, pii, tail

    def text(self, doc_id: int) -> str:
        parts = [self.body, *(_render_pii(k, doc_id) for k in self.pii)]
        if self.tail:
            parts.append(self.tail)
        return " ".join(parts)


def crawl_corpus(seed: int, n_rows: int) -> dict:
    """`n_rows` rows: source pages plus their re-crawl replicas, as
    {"rows": [(doc_id, lang, text)] sorted by doc_id, "replica_ids": set}.
    The row count does not depend on the seed, so neither does the size of
    the input a pass reads; the seed splits it into sources and replicas."""
    rng = random.Random(seed)
    replica_share = rng.uniform(0.08, 0.20)
    pii_share = rng.uniform(0.20, 0.50)
    lang_skew = rng.uniform(0.8, 1.6)
    langs = list(LANGS)
    rng.shuffle(langs)
    weights = [1.0 / (k + 1) ** lang_skew for k in range(len(langs))]
    vocab = {lang: _vocab(rng, lang) for lang in langs}

    n_replicas = round(n_rows * replica_share / (1.0 + replica_share))
    docs: list[Doc] = []
    for _ in range(n_rows - n_replicas):
        lang = rng.choices(langs, weights)[0]
        u = rng.random()
        if u < 0.06:  # symbol/digit junk the quality filter must drop
            body = " ".join(
                f"{rng.randint(0, 9999)}{rng.choice('#+%*&')}" for _ in range(40)
            )
        else:  # short pages (u < 0.2) mostly fall below the quality bar
            n = rng.randint(5, 25) if u < 0.20 else rng.randint(30, 110)
            words = rng.choices(vocab[lang], k=n)
            body = " ".join([words[0].capitalize(), *words[1:]])
        pii = (
            tuple(rng.sample(_PII, rng.randint(1, 2)))
            if rng.random() < pii_share
            else ()
        )
        tail = rng.choice(_BOILERPLATE) if rng.random() < 0.25 else ""
        docs.append(Doc(lang, body, pii, tail))

    rows = [(i, d.lang, d.text(i)) for i, d in enumerate(docs)]
    replica_ids = set()
    for i in sorted(rng.sample(range(len(docs)), n_replicas)):
        rid = i + REPLICA_OFFSET
        replica_ids.add(rid)
        rows.append((rid, docs[i].lang, docs[i].text(rid)))
    return {"rows": rows, "replica_ids": replica_ids}


def _table(rows: list) -> pa.Table:
    return pa.table(
        {
            "doc_id": [r[0] for r in rows],
            "lang": [r[1] for r in rows],
            "text": [r[2] for r in rows],
        },
        schema=_ARROW_SCHEMA,
    )


def write_corpus(rows: list, path: str, n_files: int = 4) -> None:
    """Land the corpus as `n_files` parquet files of consecutive rows."""
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        pq.write_table(
            _table(rows[k * step:(k + 1) * step]),
            os.path.join(path, f"part-{k:03d}.parquet"),
        )


def write_feed(rows: list, path: str, n_files: int) -> None:
    """Land the corpus as a stream feed: `n_files` doc-id-ranged files
    with strictly increasing mtimes, the last holding every replica, so
    a one-file-per-trigger stream sees documents in doc_id order (the
    ordering `stream_pack_shards`' determinism contract relies on)."""
    os.makedirs(path)
    base = [r for r in rows if r[0] < REPLICA_OFFSET]
    replicas = [r for r in rows if r[0] >= REPLICA_OFFSET]
    step = -(-len(base) // (n_files - 1))
    chunks = [base[k * step:(k + 1) * step] for k in range(n_files - 1)]
    chunks.append(replicas)
    t0 = 1_600_000_000
    for k, chunk in enumerate(chunks):
        dst = os.path.join(path, f"{k:03d}.parquet")
        pq.write_table(_table(chunk), dst)
        os.utime(dst, (t0 + k, t0 + k))
