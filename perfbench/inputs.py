"""Seeded change-event inputs owned by the benchmark.

Everything a workload feeds the engine is built here from ``--seed`` with
numpy and pyarrow, never with ``datax_spark.cdc.generator``: an edit to the
engine's own fixture generator must not be able to change a workload
silently. Each generated table has a content digest over its column values
(not over parquet bytes, which carry writer metadata); ``digests.json``
pins the digest of every workload input for a few seeds, so an edit to
this file shows as a failed run on those seeds.

Event model (the properties the engine's behaviour depends on):
- about 4 events per key; a key's first event is ``I``, later ones are
  ``U`` (90%) or ``D`` (10%);
- ``hot_fraction`` of events hit one of ``n_hot`` hot keys;
- ``ooo_fraction`` of events carry a ``warc_ts`` two hours older than
  their LSN position (out of order against the LWW ``(ts, lsn)`` rule);
- pages are ~2.7 KB of HTML (20 filler paragraphs drawn from a seeded
  pool), 5% of them latin-1 encoded with a matching meta charset;
- dirty rows (null key or an invalid op) and the schema-evolution point
  (events at or past it carry ``fetch_status`` and ``content_len``) are
  injected here, so the correctness gate knows their exact counts.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

BASE_TS = 1_704_067_200  # 2024-01-01T00:00:00Z
N_SITES = 50
LANGS = np.array(["en", "zh", "de", "fr", "es"])
TS_TYPE = pa.timestamp("us", tz="UTC")

CHANGE_FIELDS = [
    pa.field("lsn", pa.int64()),
    pa.field("op", pa.string()),
    pa.field("url", pa.string()),
    pa.field("warc_ts", TS_TYPE),
    pa.field("html", pa.binary()),
    pa.field("lang", pa.string()),
]
EVOLVED_FIELDS = [pa.field("fetch_status", pa.int32()), pa.field("content_len", pa.int64())]
PAGE_FIELDS = [f for f in CHANGE_FIELDS if f.name not in ("lsn", "op")]


def urls(keys: np.ndarray) -> list[str]:
    sites = (keys.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(N_SITES)
    return [f"https://site{s}.example/p/{k}" for s, k in zip(sites.tolist(), keys.tolist())]


def _paragraph_pool(rng: np.random.Generator, size: int = 512) -> list[str]:
    words = ["alpha", "river", "the", "und", "der", "le", "la", "data", "stream", "page",
             "value", "report", "market", "city", "policy", "night", "model", "table"]
    pool = []
    for i in range(size):
        w = " ".join(rng.choice(words, 5))
        h = int(rng.integers(0, 99991))
        pool.append(f'<p>paragraph {i} with {w} and <b>markup</b> '
                    f'plus <a href="/l/{h}">link {h}</a> &amp; text.</p>')
    return pool


def _pages(rng: np.random.Generator, url_list: list[str], payloads: list[str],
           paragraphs: int) -> tuple[list[bytes], np.ndarray]:
    """(html bytes, lang) for each url; 5% latin-1 encoded."""
    pool = _paragraph_pool(rng)
    picks = rng.integers(0, len(pool), size=(len(url_list), paragraphs))
    latin = rng.random(len(url_list)) < 0.05
    lang = LANGS[rng.integers(0, len(LANGS), len(url_list))]
    out = []
    for u, p, row, lat in zip(url_list, payloads, picks.tolist(), latin.tolist()):
        cs = "latin-1" if lat else "utf-8"
        body = "".join(map(pool.__getitem__, row))
        page = (f'<html><head><title>Page {u}</title><meta charset="{cs}">'
                f"<style>.c{{color:red}}</style></head><body><h1>Doc&nbsp;{p}</h1>"
                f"<p>content{'é' if lat else ''} {p} of {u}</p>{body}"
                "<script>var x=1;</script><!-- c --></body></html>")
        out.append(page.encode(cs))
    return out, lang


def changes_table(
    seed: int,
    n_events: int,
    n_keys: int,
    paragraphs: int = 20,
    hot_fraction: float = 0.10,
    n_hot: int = 8,
    ooo_fraction: float = 0.05,
    dirty_fraction: float = 0.0,
    evolve_from_lsn: int | None = None,
) -> pa.Table:
    """Change events with LSNs ``1..n_events`` over keys ``0..n_keys-1``.

    With ``evolve_from_lsn`` set, the table carries ``fetch_status`` and
    ``content_len``, null before that LSN.
    """
    rng = np.random.default_rng([seed, 2, 1])
    hot = rng.random(n_events) < hot_fraction
    keys = np.where(hot, rng.integers(0, n_hot, n_events), rng.integers(0, n_keys, n_events))
    _, first = np.unique(keys, return_index=True)
    is_first = np.zeros(n_events, bool)
    is_first[first] = True
    op = np.where(is_first, "I", np.where(rng.random(n_events) < 0.10, "D", "U"))
    lsn = 1 + np.arange(n_events, dtype=np.int64)
    ooo = rng.random(n_events) < ooo_fraction
    ts = (BASE_TS + 86_400 + lsn - np.where(ooo, 7_200, 0)) * 1_000_000
    url_list = urls(keys)
    payloads = [f"v{v}" for v in lsn.tolist()]
    html, lang = _pages(rng, url_list, payloads, paragraphs)
    deleted = op == "D"
    html_arr = pa.array([None if d else h for d, h in zip(deleted.tolist(), html)], pa.binary())
    lang_arr = pa.array(np.where(deleted, None, lang).tolist(), pa.string())
    url_arr = url_list
    if dirty_fraction:
        dirty = rng.random(n_events) < dirty_fraction
        null_key = dirty & (rng.random(n_events) < 0.5)
        op = np.where(dirty & ~null_key, "X", op)
        url_arr = [None if n else u for n, u in zip(null_key.tolist(), url_list)]
    cols = [
        pa.array(lsn, pa.int64()),
        pa.array(op.tolist(), pa.string()),
        pa.array(url_arr, pa.string()),
        pa.array(ts, pa.int64()).cast(TS_TYPE),
        html_arr,
        lang_arr,
    ]
    fields = list(CHANGE_FIELDS)
    if evolve_from_lsn is not None:
        late = lsn >= evolve_from_lsn
        status = rng.integers(0, 3, n_events).astype(np.int32)
        clen = np.array([len(h) for h in html], np.int64) + 2 * 2**31
        cols += [pa.array(status, pa.int32(), mask=~late), pa.array(clen, pa.int64(), mask=~late)]
        fields += EVOLVED_FIELDS
    return pa.table(cols, schema=pa.schema(fields))


def dirty_count(t: pa.Table) -> int:
    """Rows the engine must quarantine: null key or an op outside I/U/D."""
    url_null = np.asarray(t.column("url").is_null().to_numpy(zero_copy_only=False))
    op = np.asarray(t.column("op").to_numpy(zero_copy_only=False), dtype=object)
    return int((url_null | ~np.isin(op, ["I", "U", "D"])).sum())


def _hash_column(h, arr: pa.Array) -> None:
    h.update(np.asarray(arr.is_valid().to_numpy(zero_copy_only=False)).tobytes())
    if pa.types.is_binary(arr.type) or pa.types.is_string(arr.type):
        arr = arr.fill_null("" if pa.types.is_string(arr.type) else b"")
        _, offsets, data = arr.buffers()
        offs = np.frombuffer(offsets, np.int32, len(arr) + 1, arr.offset * 4)
        h.update(np.diff(offs).tobytes())
        h.update(memoryview(data)[offs[0]:offs[-1]])
        return
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.int64())
    h.update(np.asarray(arr.fill_null(0).to_numpy()).tobytes())


def digest(*tables: pa.Table) -> str:
    """sha256 over the column names and values of ``tables``, in order."""
    h = hashlib.sha256()
    for t in tables:
        for name, col in zip(t.column_names, t.columns):
            h.update(name.encode())
            _hash_column(h, col.combine_chunks())
    return h.hexdigest()[:16]
