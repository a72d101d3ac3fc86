"""Seeded input generators for the four benchmark workloads.

Every generator takes a seed and an output directory, writes the inputs the
program under test receives, and returns the facts the correctness checks
need (expected row counts, planted duplicates, ...). The same seed writes
byte-identical files; the program never sees the seed.
"""

import bisect
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- shared helpers --------------------------------------------------------

B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _addr(rng, n=44):
    return "".join(rng.choice(B58) for _ in range(n))


class Zipf:
    """Draws ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""

    def __init__(self, n, s):
        acc, self.cum = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            self.cum.append(acc)

    def draw(self, rng):
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _jsonl(objs):
    return "".join(json.dumps(o, separators=(",", ":")) + "\n" for o in objs)


# --- solana_etl: Helius shape-1/shape-2 files + websocket events -----------

ETL_MINTS = 2000
ETL_ACCOUNTS = 6000
ETL_ZIPF_S = 1.1
ETL_SHAPE2_FILES = 90
ETL_SHAPE1_FILES = 25
ETL_TX_PER_FILE = 25
ETL_EVENT_FILES = 220
# share of transactions whose tokenTransfers is empty or missing: each one
# still yields exactly one canonical row through explode_outer
ETL_EMPTY_SHARE = 0.15
ETL_T0 = 1_742_601_600
TX_TYPES = ["SWAP", "TRANSFER", "SWAP", "NFT_SALE", "SWAP", "UNKNOWN"]


def gen_etl(seed, out):
    rng = random.Random(seed)
    mints = [_addr(rng) for _ in range(ETL_MINTS)]
    accounts = [_addr(rng) for _ in range(ETL_ACCOUNTS)]
    zipf = Zipf(ETL_MINTS, ETL_ZIPF_S)
    mint_hits = [0] * ETL_MINTS
    rows = 0
    empty = 0
    n_tx = 0

    def transfers(forced_mint=None):
        nonlocal empty
        if rng.random() < ETL_EMPTY_SHARE:
            empty += 1
            return None if rng.random() < 0.5 else []
        out = []
        for _ in range(rng.randint(1, 4)):
            k = zipf.draw(rng)
            mint_hits[k] += 1
            out.append({
                "fromUserAccount": rng.choice(accounts),
                "toUserAccount": rng.choice(accounts),
                "tokenAmount": round(rng.uniform(0.01, 5000.0), 4),
                # shape 1 may leave the transfer mint empty: it falls back
                # to the file's metadata mint
                "mint": "" if forced_mint and rng.random() < 0.3 else mints[k],
                "tokenStandard": "Fungible",
            })
        return out

    def rows_of(tr):
        return max(1, len(tr or []))

    for d in ("helius1", "helius2", "events"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    slot = 300_000_000
    for f in range(ETL_SHAPE2_FILES):
        txs = []
        for _ in range(ETL_TX_PER_FILE):
            slot += rng.randint(1, 40)
            n_tx += 1
            tr = transfers()
            rows += rows_of(tr)
            tx = {
                "signature": _addr(rng, 88),
                "slot": slot,
                "blockTime": ETL_T0 + (slot - 300_000_000) // 2,
                "meta": {"fee": rng.choice([5000, 5000, 10000, 15000])},
                "transaction": {"message": {"accountKeys": (
                    [rng.choice(accounts) for _ in range(rng.randint(0, 3))])}},
            }
            if tr is not None:
                tx["tokenTransfers"] = tr
            txs.append(tx)
        _write(os.path.join(out, "helius2", f"h2_{f:05d}.json"), _jsonl(txs))
    for f in range(ETL_SHAPE1_FILES):
        k = zipf.draw(rng)
        txs = []
        for _ in range(ETL_TX_PER_FILE):
            slot += rng.randint(1, 40)
            n_tx += 1
            tr = transfers(forced_mint=mints[k])
            rows += rows_of(tr)
            ty = rng.choice(TX_TYPES)
            tx = {
                "description": f"{ty.lower()} {rng.randint(1, 900)} SOL",
                "type": ty, "source": rng.choice(["RAYDIUM", "JUPITER", "ORCA"]),
                "fee": 5000, "feePayer": rng.choice(accounts),
                "signature": _addr(rng, 88), "slot": slot,
                "timestamp": ETL_T0 + (slot - 300_000_000) // 2,
            }
            if tr is not None:
                tx["tokenTransfers"] = tr
            txs.append(tx)
        meta = {"token_name": f"Token{k}", "token_symbol": f"T{k}", "mint": mints[k]}
        _write(os.path.join(out, "helius1", f"h1_{f:05d}.json"),
               _jsonl([{"metadata": meta, "transactions": txs}]))
    for f in range(ETL_EVENT_FILES):
        k = zipf.draw(rng)
        mint_hits[k] += 1
        ev = {"mint": mints[k], "txType": rng.choice(["create", "buy", "sell"]),
              "solAmount": round(rng.uniform(0.1, 80.0), 3),
              "name": f"Token{k}", "symbol": f"T{k}", "pool": _addr(rng)}
        rows += 1
        _write(os.path.join(out, "events", f"ev_{f:05d}.json"), _jsonl([ev]))
    return {
        "canonical_rows": rows,
        "files": ETL_SHAPE1_FILES + ETL_SHAPE2_FILES + ETL_EVENT_FILES,
        "transactions": n_tx,
        "input_records": n_tx + ETL_EVENT_FILES,
        "empty_transfer_share": empty / n_tx,
        "mint_hits": mint_hits,
    }


# --- dashboard: events + customer tables in the fixture schema -------------

DASH_EVENTS = 100_000
DASH_MINTS = 8000
DASH_ZIPF_S = 1.05
DASH_T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC
DASH_SPAN_US = 30 * 86400 * 1_000_000
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def gen_dashboard(seed, out, n_events=DASH_EVENTS, n_mints=DASH_MINTS):
    rng = random.Random(seed)
    zipf = Zipf(n_mints, DASH_ZIPF_S)
    ts = sorted(DASH_T0_US + rng.randrange(DASH_SPAN_US) for _ in range(n_events))
    users = [zipf.draw(rng) + 1 for _ in range(n_events)]
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n_events)]),
        "value": pa.array([round(rng.uniform(0.5, 500.0), 2) for _ in range(n_events)]),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)]),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(1, n_mints + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_mints + 1)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_mints)], pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_mints)]),
        "c_mktsegment": pa.array([rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                              "HOUSEHOLD", "MACHINERY"])
                                  for _ in range(n_mints)]),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(events, os.path.join(out, "events.parquet"), row_group_size=50_000)
    pq.write_table(customer, os.path.join(out, "customer.parquet"))
    hits = [0] * (n_mints + 1)
    for u in users:
        hits[u] += 1
    return {"events": n_events, "mints": n_mints, "zipf_s": DASH_ZIPF_S, "user_hits": hits}


# --- feed_ingest: websocket-event messages ----------------------------------

FEED_MALFORMED_SHARE = 0.02
FEED_REPOST_SHARE = 0.05


def gen_feed(seed, out, n_messages):
    """Messages in posting order. A planted re-post repeats an earlier
    message byte for byte; a malformed message is truncated JSON. Valid
    messages are compact JSON, the wire form of the websocket feed."""
    rng = random.Random(seed)
    zipf = Zipf(500, 1.1)
    msgs, kinds, orig = [], [], []
    for i in range(n_messages):
        r = rng.random()
        originals = [j for j in range(max(0, i - 200), i) if kinds[j] == "valid"] if i else []
        if r < FEED_REPOST_SHARE and originals:
            j = rng.choice(originals)
            msgs.append(msgs[j]); kinds.append("repost"); orig.append(j)
            continue
        k = zipf.draw(rng)
        ev = {"mint": f"MINT{k:04d}", "txType": rng.choice(["create", "buy", "sell"]),
              "solAmount": round(rng.uniform(0.1, 80.0), 3),
              "name": f"m{seed}_{i}", "symbol": f"T{k}"}
        text = json.dumps(ev, separators=(",", ":"))
        if r > 1.0 - FEED_MALFORMED_SHARE:
            msgs.append(text[: rng.randint(5, len(text) - 2)]); kinds.append("malformed")
        else:
            msgs.append(text); kinds.append("valid")
        orig.append(i)
    os.makedirs(out, exist_ok=True)
    _write(os.path.join(out, "messages.jsonl"), "".join(json.dumps(m) + "\n" for m in msgs))
    return {"n_messages": n_messages, "messages": msgs, "kinds": kinds, "original": orig}


# --- corpus_curate: documents + embeddings with planted duplicates ---------

CORPUS_DOCS = 500               # documents in all, copies included
CORPUS_FAMILY_SHARE = 0.25      # share of base docs that get near-dup copies
CORPUS_PARAPHRASE_SHARE = 0.08  # share of base docs that get a paraphrase
CORPUS_DIM = 64
LANGS = {
    "en": "the data pipeline token market swap pool price volume holder "
          "liquidity risk signal chain block fee account transfer launch",
    "de": "der die das daten markt preis menge halter risiko signal kette "
          "block gebuehr konto transfer start handel wert",
    "fr": "le la les donnees marche prix volume detenteur risque signal "
          "chaine bloc frais compte transfert lancement valeur",
    "es": "el la los datos mercado precio volumen titular riesgo senal "
          "cadena bloque tarifa cuenta transferencia lanzamiento valor",
}
SOURCES = ["web", "forum", "news", "code", "wiki"]


def _unit(v):
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def gen_corpus(seed, out):
    rng = random.Random(seed)
    vocab = {lang: words.split() + [f"{lang}{i}" for i in range(400)]
             for lang, words in LANGS.items()}
    docs, embs, families, paraphrases = [], [], [], []

    def add(text, lang, source, emb):
        doc_id = len(docs)
        docs.append((doc_id, text, lang, source))
        embs.append(emb)
        return doc_id

    base_docs = 0
    while len(docs) < CORPUS_DOCS:
        base_docs += 1
        lang = rng.choice(list(LANGS))
        words = [rng.choice(vocab[lang]) for _ in range(rng.randint(60, 400))]
        emb = _unit([rng.gauss(0, 1) for _ in range(CORPUS_DIM)])
        source = rng.choice(SOURCES)
        base = add(" ".join(words), lang, source, emb)
        r = rng.random()
        room = CORPUS_DOCS - len(docs)
        if r < CORPUS_FAMILY_SHARE and room:
            fam = [base]
            for _ in range(min(room, rng.randint(1, 4))):
                # a near-dup copy: a few word substitutions, re-crawled
                # from another source
                w = list(words)
                for _ in range(max(1, len(w) // 100)):
                    w[rng.randrange(len(w))] = rng.choice(vocab[lang])
                e = _unit([x + rng.gauss(0, 0.01) for x in emb])
                fam.append(add(" ".join(w), lang, rng.choice(SOURCES), e))
            families.append(fam)
        elif r < CORPUS_FAMILY_SHARE + CORPUS_PARAPHRASE_SHARE and room:
            # a paraphrase: different words, nearly the same embedding
            w = [rng.choice(vocab[lang]) for _ in range(len(words))]
            e = _unit([x + rng.gauss(0, 0.02) for x in emb])
            paraphrases.append([base, add(" ".join(w), lang, source, e)])
    # shuffle doc order so families are not contiguous in the file
    order = list(range(len(docs)))
    rng.shuffle(order)
    remap = {old: new for new, old in enumerate(order)}
    documents = pa.table({
        "doc_id": pa.array([remap[d[0]] for d in (docs[o] for o in order)], pa.int64()),
        "text": pa.array([docs[o][1] for o in order]),
        "lang": pa.array([docs[o][2] for o in order]),
        "source": pa.array([docs[o][3] for o in order]),
        "n_chars": pa.array([len(docs[o][1]) for o in order], pa.int64()),
    })
    embeddings = pa.table({
        "vec_id": pa.array(range(len(docs)), pa.int64()),
        "embedding": pa.array([embs[o] for o in order], pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in order], pa.int32()),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(documents, os.path.join(out, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out, "embeddings.parquet"))
    return {
        "docs": len(docs),
        "base_docs": base_docs,
        "families": [[remap[d] for d in f] for f in families],
        "paraphrases": [[remap[d] for d in p] for p in paraphrases],
    }


GENERATORS = {
    "solana_etl": gen_etl,
    "dashboard": gen_dashboard,
    "corpus_curate": gen_corpus,
}
