"""Seeded input generators.  Everything the program sees is made here
from the workload seed: the same seed gives byte-identical files and
the same request sequence; another seed gives different ones."""

from __future__ import annotations

import datetime as dt
import gzip
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
DAYS = 30
US_PER_DAY = 86_400 * 1_000_000
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never shifts another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) popularity over n items, ranks shuffled so the hot items
    differ per seed."""
    w = 1.0 / np.arange(1, n + 1) ** s
    rng.shuffle(w)
    return w / w.sum()


def _epoch_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------------
# dashboard store: events (the price series), transactions, journal
# --------------------------------------------------------------------------

# The store has the shape of the sf0.1 testdata events table: 100k rows,
# 1500 user ids (here: symbols), 30 days, one row group, ts written as
# parquet TIMESTAMP(MICROS) without a zone, so Spark reads it through
# the same path (TIMESTAMP_NTZ, pushed-down range filters).
N_SYMBOLS = 1500
N_EVENTS = 100_000
N_EVENTS_SMALL = 1_000
N_PORTFOLIOS = 40


def symbol_weights(seed: int, n: int = N_SYMBOLS) -> np.ndarray:
    return zipf_weights(n, 1.1, rng_for(seed, "symbols"))


def make_store(seed: int, out_dir: str, n_events: int) -> dict[str, str]:
    """events (event_id, ts, user_id, event_type, value, props) in time
    order — user_id is the symbol, value the price — plus the
    transactions and journal tables the positions and journal requests
    read.  Returns table name -> parquet path."""
    rng = rng_for(seed, "store")
    w = symbol_weights(seed)
    n_sym = len(w)
    base = np.round(rng.uniform(10.0, 500.0, n_sym + 1), 2)
    t0 = _epoch_us(EPOCH)

    sym = rng.choice(n_sym, size=n_events, p=w) + 1
    ts = np.sort(rng.integers(t0, t0 + DAYS * US_PER_DAY, n_events))
    value = np.round(base[sym] * (1.0 + rng.normal(0.0, 0.01, n_events)), 2)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(sym, pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events)),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )

    n_tx = n_events // 10
    tx_sym = rng.choice(n_sym, size=n_tx, p=w) + 1
    transactions = pa.table(
        {
            "id": pa.array(np.arange(1, n_tx + 1), pa.int64()),
            "portfolio_id": pa.array(rng.integers(1, N_PORTFOLIOS + 1, n_tx), pa.int64()),
            "date": pa.array(
                np.sort(rng.integers(t0, t0 + DAYS * US_PER_DAY, n_tx)), pa.timestamp("us")
            ),
            "symbol": pa.array(tx_sym, pa.int64()),
            "type": pa.array(
                rng.choice(
                    ["BUY", "SELL", "buy", "sell", "DIV", "CASH"],
                    size=n_tx, p=[0.35, 0.25, 0.1, 0.1, 0.1, 0.1],
                )
            ),
            "qty": pa.array(rng.integers(1, 101, n_tx).astype(float)),
            "price": pa.array(np.round(base[tx_sym] * (1.0 + rng.normal(0, 0.02, n_tx)), 2)),
            "fees": pa.array(np.round(rng.uniform(0.0, 2.0, n_tx), 2)),
        }
    )

    n_j = n_events // 25
    j_sym = rng.choice(n_sym, size=n_j, p=w) + 1
    entry = np.round(base[j_sym] * (1.0 + rng.normal(0, 0.01, n_j)), 2)
    long_ = rng.random(n_j) < 0.6
    journal = pa.table(
        {
            "id": pa.array(np.arange(1, n_j + 1), pa.int64()),
            "symbol": pa.array([f"S{s:04d}" for s in j_sym]),
            "date": pa.array(
                np.sort(rng.integers(t0, t0 + DAYS * US_PER_DAY, n_j)), pa.timestamp("us")
            ),
            "direction": pa.array(np.where(long_, "Long", "Short")),
            "qty": pa.array(rng.integers(1, 11, n_j).astype(float)),
            "entry": pa.array(entry),
            "stop": pa.array(np.round(np.where(long_, entry * 0.97, entry * 1.03), 2)),
            "exit": pa.array(np.round(entry * (1.0 + rng.normal(0.0, 0.02, n_j)), 2)),
            "fees": pa.array(np.round(rng.uniform(0.0, 3.0, n_j), 2)),
            "tags": pa.array(rng.choice(["breakout", "swing,fx", "scalp", ""], n_j)),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (("events", events), ("transactions", transactions),
                        ("journal", journal)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return paths


# requests of each kind per block of 20; the sequence is a run of
# shuffled blocks, so every stretch of it has the same mix and the
# median does not hinge on how one seed happened to draw the kinds
REQUEST_MIX = {
    "prices_page": 7,
    "keyset_page": 4,
    "latest_quote": 4,
    "positions": 1,
    "journal_stats": 3,
    "symbol_chart": 1,
}


def _day(d: int) -> str:
    return (EPOCH + dt.timedelta(days=int(d))).strftime("%Y-%m-%d")


def requests(seed: int, n: int) -> list[tuple[str, dict]]:
    """The dashboard's request sequence: (kind, params) with Zipf-hot
    symbols, as plain Python values."""
    rng = rng_for(seed, "requests")
    w = symbol_weights(seed)
    block = [k for k, c in REQUEST_MIX.items() for _ in range(c)]
    kinds = []
    while len(kinds) < n:
        kinds.extend(rng.permutation(block))
    t0 = _epoch_us(EPOCH)
    out = []
    for kind in kinds[:n]:
        sym = int(rng.choice(len(w), p=w)) + 1
        start = int(rng.integers(0, DAYS - 6))
        span = int(rng.integers(1, 6))
        rng_dates = {"start": _day(start), "end": _day(start + span) + " 23:59:59"}
        if kind == "prices_page":
            p = {"symbol": sym, **rng_dates, "page": int(rng.integers(0, 3)), "limit": 50}
        elif kind == "keyset_page":
            after = t0 + int(rng.integers(US_PER_DAY, DAYS * US_PER_DAY))
            p = {
                "symbol": sym, "after_us": after,
                "after_id": int(rng.integers(1, 1 << 40)), "limit": 50,
            }
        elif kind == "latest_quote":
            size = int(rng.integers(5, 16))
            watch = rng.choice(len(w), size=size, replace=False, p=w) + 1
            p = {"watchlist": sorted(int(x) for x in watch)}
        elif kind == "positions":
            p = {"portfolio_id": int(rng.integers(1, N_PORTFOLIOS + 1))}
        elif kind == "journal_stats":
            p = {
                "symbol": f"S{sym:04d}", **rng_dates,
                "direction": [None, "Long", "Short"][int(rng.integers(0, 3))],
            }
        else:  # symbol_chart
            p = {"symbol": sym, **rng_dates}
        out.append((str(kind), p))
    return out


# --------------------------------------------------------------------------
# crawl archives (gzipped WARC, one gzip member per record)
# --------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "to", "a", "in"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "und": [],
}
LANG_P = {"en": 0.70, "es": 0.10, "fr": 0.08, "de": 0.07, "und": 0.05}
PAGE_KINDS = {
    "normal": 0.68,
    "exact_dup": 0.07,
    "near_dup": 0.06,
    "boilerplate": 0.05,
    "spam": 0.04,
    "aggregator": 0.06,
    "not_html": 0.04,
}
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """Pseudo-words of 2-4 syllables (4-8 letters): never a language
    marker, so the language mix is set by the planted markers alone."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return sorted(words)


def _record(rtype: str, uri: str, date: str, body: bytes, ctype: str) -> bytes:
    head = (
        f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def _http(body: bytes, status: int, ctype: str) -> bytes:
    reason = "OK" if status == 200 else "Not Found"
    return (
        f"HTTP/1.1 {status} {reason}\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


class _PageWriter:
    def __init__(self, rng: np.random.Generator, vocab: list[str], hosts: list[str]):
        self.rng, self.vocab, self.hosts = rng, vocab, hosts

    def words(self, n: int, lang: str) -> list[str]:
        markers = LANG_MARKERS[lang]
        out = []
        for _ in range(n):
            if markers and self.rng.random() < 0.18:
                out.append(markers[int(self.rng.integers(len(markers)))])
            else:
                out.append(self.vocab[int(self.rng.integers(len(self.vocab)))])
        return out

    def paragraphs(self, lang: str) -> list[list[str]]:
        return [
            self.words(int(self.rng.integers(25, 46)), lang)
            for _ in range(int(self.rng.integers(3, 7)))
        ]

    def link(self, text: str, host: str | None = None) -> str:
        host = host or self.hosts[int(self.rng.integers(len(self.hosts)))]
        return f'<a href="http://{host}/p/{int(self.rng.integers(1000))}">{text}</a>'

    def html(self, paras: list[list[str]], inline_links: bool = True) -> str:
        body = []
        for ws in paras:
            ws = list(ws)
            if inline_links and self.rng.random() < 0.5:
                i = int(self.rng.integers(len(ws)))
                ws[i] = self.link(ws[i])
            body.append("<p>" + " ".join(ws) + ".</p>")
        nav = " ".join(f'<a href="/s/{w}">{w}</a>' for w in self.words(8, "und"))
        footer = " ".join(self.link(w) for w in self.words(4, "und"))
        return (
            "<html><head><title>" + " ".join(self.words(4, "und")) + "</title></head>"
            f"<body><div class=\"nav\">{nav}</div>" + "".join(body)
            + f"<div class=\"footer\">{footer}</div></body></html>"
        )


def make_warcs(seed: int, out_dir: str, n_files: int, pages_per_file: int) -> dict:
    """Gzipped WARC archives of HTML pages on a cross-host link graph.
    Planted: exact duplicates, near duplicates, link-farm boilerplate,
    repetitive spam, aggregator pages quoting other pages (overlap with
    whatever lands in the eval slice), non-HTML / non-200 responses and
    several languages.  Returns the file paths and the planted counts."""
    rng = rng_for(seed, "warc")
    vocab = _vocab(rng, 4000)
    hosts = sorted(
        {f"{w}.{tld}" for w, tld in zip(rng.choice(vocab, 60), rng.choice(["com", "org", "net"], 60))}
    )
    host_p = zipf_weights(len(hosts), 0.8, rng)
    pw = _PageWriter(rng, vocab, hosts)
    kinds, kind_p = list(PAGE_KINDS), np.array(list(PAGE_KINDS.values()))
    langs, lang_p = list(LANG_P), np.array(list(LANG_P.values()))

    normal: list[tuple[str, list[list[str]]]] = []  # (html, paragraphs)
    planted = {k: 0 for k in kinds}
    os.makedirs(out_dir, exist_ok=True)
    files = []
    page_no = 0
    for f in range(n_files):
        blob = [
            gzip.compress(
                _record("warcinfo", "", "2024-03-01T00:00:00Z",
                        b"software: perfbench\r\n", "application/warc-fields"),
                mtime=0,
            )
        ]
        for _ in range(pages_per_file):
            page_no += 1
            kind = str(rng.choice(kinds, p=kind_p))
            if kind in ("exact_dup", "near_dup", "aggregator") and len(normal) < 8:
                kind = "normal"
            planted[kind] += 1
            host = hosts[int(rng.choice(len(hosts), p=host_p))]
            uri = f"http://{host}/p/{page_no}"
            date = f"2024-03-{1 + page_no % 28:02d}T{page_no % 24:02d}:00:00Z"
            status, ctype = 200, "text/html; charset=utf-8"
            if kind == "normal":
                paras = pw.paragraphs(str(rng.choice(langs, p=lang_p)))
                html = pw.html(paras)
                normal.append((html, paras))
            elif kind == "exact_dup":
                html = normal[int(rng.integers(len(normal)))][0]
            elif kind == "near_dup":
                src = normal[int(rng.integers(len(normal)))][1]
                paras = [
                    [pw.vocab[int(rng.integers(len(pw.vocab)))] if rng.random() < 0.03 else w
                     for w in ws]
                    for ws in src
                ]
                html = pw.html(paras)
            elif kind == "boilerplate":
                links = " ".join(pw.link(w) for w in pw.words(40, "und"))
                html = f"<html><body><div>{links}</div><p>{' '.join(pw.words(4, 'en'))}</p></body></html>"
            elif kind == "spam":
                w3 = pw.words(3, "en")
                html = "<html><body><p>" + " ".join(w3 * 30) + "</p></body></html>"
            elif kind == "aggregator":
                quoted = []
                for _q in range(8):
                    ws = [w for para in normal[int(rng.integers(len(normal)))][1] for w in para]
                    i = int(rng.integers(0, max(1, len(ws) - 12)))
                    quoted.append(ws[i : i + 12] + pw.words(6, "en"))
                html = pw.html(quoted, inline_links=False)
            else:  # not_html: a 404 page or an image
                if rng.random() < 0.5:
                    status, html = 404, "<html><body><p>not found</p></body></html>"
                else:
                    ctype, html = "image/png", "\x89PNG-bytes"
            body = _http(html.encode(), status, ctype)
            rec = _record("response", uri, date, body, "application/http; msgtype=response")
            blob.append(gzip.compress(rec, mtime=0))
        path = os.path.join(out_dir, f"crawl-{f:03d}.warc.gz")
        with open(path, "wb") as fh:
            fh.write(b"".join(blob))
        files.append(path)
    return {"files": files, "pages": page_no, "planted": planted}


# --------------------------------------------------------------------------
# quote files for the streaming ingest
# --------------------------------------------------------------------------

QUOTE_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("price", pa.float64()),
        ("as_of", pa.timestamp("us")),
        ("seq", pa.int64()),
        ("file_no", pa.int32()),
    ]
)


def quote_files(
    seed: int, n_files: int, rows: int, new_share: float = 0.4
) -> tuple[list[pa.Table], dict[str, tuple[float, int, int]]]:
    """``n_files`` quote tables, each with unique symbols: updates to
    existing symbols (Zipf-skewed toward the oldest) mixed with new
    symbols.  Returns the tables and the expected last write per symbol
    (price, seq, file_no) after all of them."""
    rng = rng_for(seed, "quotes")
    tables, expected = [], {}
    n_known, seq = 0, 0
    for f in range(n_files):
        n_new = rows if f == 0 else int(rows * new_share)
        n_upd = rows - n_new
        upd = []
        if n_upd:
            w = 1.0 / np.arange(1, n_known + 1) ** 1.1
            upd = list(rng.choice(n_known, size=n_upd, replace=False, p=w / w.sum()))
        ids = upd + list(range(n_known, n_known + n_new))
        n_known += n_new
        syms = [f"Q{i:06d}" for i in ids]
        prices = np.round(rng.uniform(1.0, 1000.0, len(ids)), 2)
        seqs = np.arange(seq, seq + len(ids))
        seq += len(ids)
        as_of = _epoch_us(EPOCH) + f * 1_000_000
        tables.append(
            pa.table(
                {
                    "symbol": syms,
                    "price": prices,
                    "as_of": pa.array([as_of] * len(ids), pa.timestamp("us")),
                    "seq": pa.array(seqs, pa.int64()),
                    "file_no": pa.array([f] * len(ids), pa.int32()),
                },
                schema=QUOTE_SCHEMA,
            )
        )
        for s, p, q in zip(syms, prices, seqs):
            expected[s] = (float(p), int(q), f)
    return tables, expected


def drop_quote_file(table: pa.Table, stage_dir: str, watch_dir: str, f: int) -> int:
    """Write one quote file beside the watched directory, then rename it
    in, so the stream never lists a half-written file.  Returns its size."""
    name = f"quotes-{f:05d}.parquet"
    tmp = os.path.join(stage_dir, name)
    _write(table, tmp)
    size = os.path.getsize(tmp)
    os.rename(tmp, os.path.join(watch_dir, name))
    return size
