"""Seeded workload inputs, their on-disk cache, and full-decode digests.

The program sees only the generated rows.  F1 pages come from
``dumpster.synth.materialize_pages``; the templated-``html`` variant is
built here from a few page templates per host, filled with per-row
fields, like real crawled HTML.  The digest a full decode must match is
computed with Python from the generated rows, never through dumpster.
"""

from __future__ import annotations

import os
import random
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def logical_bytes(tbl: pa.Table) -> int:
    """Logical (uncompressed, null-aware) size of a pages table: the same
    definition as bench/benchutil.logical_bytes_of, computed with Arrow."""
    total = 8 * tbl.num_rows
    for name in ("url", "text", "lang", "html"):
        lens = pc.binary_length(tbl.column(name))
        total += int(pc.sum(lens).as_py() or 0)
    return total


def _write_parquet(tbl: pa.Table, path: str) -> None:
    """Uncompressed Parquet with UTC-adjusted timestamps, so Spark reads
    ``warc_ts`` back as TIMESTAMP, the type synth writes."""
    ts = tbl.schema.get_field_index("warc_ts")
    tbl = tbl.set_column(ts, "warc_ts", tbl.column(ts).cast(
        pa.timestamp("us", tz="UTC")))
    pq.write_table(tbl, path, compression="none")


def _write_dir(parts: list[pa.Table], path: str, prefix: str) -> None:
    """``parts`` as one Parquet file each, in a new directory."""
    os.makedirs(path)
    for i, part in enumerate(parts):
        _write_parquet(part, os.path.join(path, f"{prefix}-{i:05d}.parquet"))


def _read_dir(path: str) -> pa.Table:
    import pyarrow.dataset as ds
    tbl = ds.dataset(path, format="parquet").to_table()
    # Spark writes timestamps that Arrow may read back at another unit;
    # the engine's schema is timestamp[us]
    return tbl.set_column(tbl.schema.get_field_index("warc_ts"), "warc_ts",
                          tbl.column("warc_ts").cast(pa.timestamp("us")))


# -- templated html ---------------------------------------------------------

_NAV = ["inicio", "noticias", "esportes", "politica", "economia", "cultura",
        "tecnologia", "blog", "sobre", "contato", "mundo", "saude",
        "educacao", "turismo", "opiniao", "videos", "podcast", "colunas"]
_CLASSES = ["main", "container", "wrapper", "content", "article-body", "post",
            "entry", "story", "page", "layout"]
_TEMPLATES_PER_HOST = 3


def _host_templates(host: str, seed: int) -> list[str]:
    """A few page skeletons for one host, as ``str.format`` templates."""
    out = []
    for k in range(_TEMPLATES_PER_HOST):
        rng = random.Random(zlib.crc32(f"{seed}:{host}:{k}".encode()))
        site = host.split(".")[0].upper() + " " + rng.choice(
            ["Portal", "Notícias", "Diário", "Online", "Hoje", "Web"])
        v = rng.randrange(1 << 20)
        nav = "".join(
            f'<li class="nav-item"><a href="https://{host}/{w}/">'
            f'{w.capitalize()}</a></li>'
            for w in rng.sample(_NAV, rng.randint(6, 10)))
        foot = "".join(
            f'<li><a href="https://{host}/{w}/" rel="nofollow">{w}</a></li>'
            for w in rng.sample(_NAV, 5))
        cls, cls2 = rng.sample(_CLASSES, 2)
        skel = (
            '<!DOCTYPE html>\n<html lang="{lang}"><head><meta charset="utf-8">'
            '<title>{title} | SITE</title>\n<meta name="viewport" '
            'content="width=device-width, initial-scale=1">'
            '<link rel="canonical" href="{url}">\n'
            f'<link rel="stylesheet" href="https://{host}/static/css/{cls}.'
            f'{v:05x}.css"><script src="https://{host}/static/js/app.'
            f'{v:05x}.js" defer></script>\n'
            '<meta property="og:site_name" content="SITE"><meta property='
            '"og:url" content="{url}"><meta property="article:published_time"'
            ' content="{date}"></head>\n'
            f'<body class="{cls}"><header class="site-header"><a href='
            f'"https://{host}/" class="logo">SITE</a><nav><ul class="menu">'
            f'{nav}</ul></nav></header>\n<main class="{cls2}"><article '
            'class="post"><h1 class="entry-title">{title}</h1><time datetime='
            '"{date}">{date}</time>\n<div class="entry-content">{body}</div>'
            '</article>\n<aside class="related"><h2>Leia também</h2><ul>'
            '{related}</ul></aside></main>\n<footer class="site-footer"><p>'
            f'&copy; 2026 SITE. Todos os direitos reservados.</p><ul>{foot}'
            '</ul></footer></body></html>\n')
        # the f-string parts are fixed per template; the plain parts keep
        # the per-row slots that str.format fills
        out.append(skel.replace("SITE", site))
    return out


def templated_html(tbl: pa.Table, seed: int) -> pa.Array:
    """Per-row HTML from per-host templates, keeping the F1 null pattern."""
    urls = tbl.column("url").to_pylist()
    texts = tbl.column("text").to_pylist()
    langs = tbl.column("lang").to_pylist()
    ts = tbl.column("warc_ts").cast(pa.int64()).to_numpy()
    nulls = tbl.column("html").is_null().to_numpy(zero_copy_only=False)
    cache: dict[str, list[str]] = {}
    rows = []
    for i, url in enumerate(urls):
        if nulls[i]:
            rows.append(None)
            continue
        host = url.split("/", 3)[2]
        tpls = cache.get(host)
        if tpls is None:
            tpls = cache[host] = _host_templates(host, seed)
        h = zlib.crc32(url.encode())
        words = texts[i].split(" ")
        body = "".join("<p>" + " ".join(words[j:j + 40]) + "</p>\n"
                       for j in range(0, len(words), 40))
        related = "".join(
            f'<li><a href="https://{host}/p{(h >> s) & 0xFFFFFF:06x}/">'
            f'{" ".join(words[s % len(words):s % len(words) + 4])}</a></li>'
            for s in (3, 7, 11))
        date = np.datetime_as_string(np.datetime64(int(ts[i]), "us"),
                                     unit="s") + "Z"
        rows.append(tpls[h % _TEMPLATES_PER_HOST].format(
            lang=langs[i], title=" ".join(words[:8]).capitalize(), url=url,
            date=date, body=body, related=related).encode())
    return pa.array(rows, type=pa.binary())


# -- inputs -----------------------------------------------------------------


# input sets kept per workload, most recently used first: each is ~60 MB.
# More than a ten-seed sweep uses, so repeating the sweep always hits;
# a checkout that runs many more seeds must still not fill its disk
CACHE_KEEP = 12


class Inputs:
    """One workload's generated input: the base table (the bulk cycle's
    frame, and the rows the served store starts from) and a pool of small
    append batches, one Parquet file each.  All of it is cached under
    ``cache_dir`` keyed by (workload, rows, seed); a miss generates it
    from one ``materialize_pages`` call, whose rows past ``rows`` become
    the pool."""

    def __init__(self, spark, cache_dir: str, workload: str, rows: int,
                 append_rows: int, pool_batches: int, seed: int,
                 templated: bool):
        self.spark = spark
        key = os.path.join(cache_dir, workload,
                           f"n{rows}+{append_rows}x{pool_batches}_s{seed}")
        self.cache_hit = os.path.exists(key)
        if self.cache_hit:
            os.utime(key)
        else:
            _generate(spark, key, rows, append_rows, pool_batches, seed,
                      templated)
        _evict(os.path.dirname(key), CACHE_KEEP)
        self.base_path = os.path.join(key, "base")
        self.batch_paths = [os.path.join(key, "pool", f"batch-{i:05d}.parquet")
                            for i in range(pool_batches)]
        self.base_tbl = _read_dir(self.base_path)
        self.base_digest = table_digest(self.base_tbl)
        self.batches = [_read_dir(p) for p in self.batch_paths]
        self.base_df = spark.read.parquet(self.base_path)
        self.base_mb = logical_bytes(self.base_tbl) / 1e6

    def batch_df(self, i: int):
        return self.spark.read.parquet(self.batch_paths[i])


def _evict(workload_dir: str, keep: int) -> None:
    """Delete all but the ``keep`` most recently used input sets, and
    the half-written ones of generations that died."""
    done, dead = [], []
    for e in os.scandir(workload_dir):
        pid = e.name.rpartition(".tmp.")[2]
        if ".tmp." not in e.name:
            done.append(e)
        elif not os.path.exists(f"/proc/{pid}"):
            dead.append(e)
    done.sort(key=lambda e: e.stat().st_mtime, reverse=True)
    for e in done[keep:] + dead:
        shutil.rmtree(e.path, ignore_errors=True)


def _generate(spark, key: str, rows: int, append_rows: int,
              pool_batches: int, seed: int, templated: bool) -> None:
    from dumpster.synth import materialize_pages
    tmp = f"{key}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    src = materialize_pages(spark, rows + append_rows * pool_batches, tmp,
                            seed=seed)
    tbl = _read_dir(src)
    # row index order (synth's urls end in "-<row index>")
    idx = [int(u.rsplit("-", 1)[1]) for u in tbl.column("url").to_pylist()]
    tbl = tbl.take(np.argsort(idx, kind="stable"))
    shutil.rmtree(src)
    if templated:
        tbl = tbl.set_column(tbl.schema.get_field_index("html"), "html",
                             templated_html(tbl, seed))
    # one base file per core, so a Spark scan splits like synth output
    files = max(4, len(os.sched_getaffinity(0)))
    step = -(-rows // files)
    _write_dir([tbl.slice(i * step, min(step, rows - i * step))
                for i in range(files) if i * step < rows],
               os.path.join(tmp, "base"), "part")
    _write_dir([tbl.slice(rows + i * append_rows, append_rows)
                for i in range(pool_batches)],
               os.path.join(tmp, "pool"), "batch")
    os.replace(tmp, key)


def _digest_cols():
    from pyspark.sql import functions as F
    url = F.col("url").cast("binary")
    return [F.count(F.lit(1)),
            F.sum(F.crc32(F.concat(url, F.col("text").cast("binary")))),
            F.sum(F.crc32(F.concat(url, F.col("html").cast("binary"))))]


def digest_of(df) -> list[int]:
    """[rows, sum of crc32(url ‖ text), sum of crc32(url ‖ html)]: the row
    count plus an order-independent hash of text and of html per url
    (null values add nothing)."""
    r = df.agg(*_digest_cols()).collect()[0]
    return [int(r[0]), int(r[1] or 0), int(r[2] or 0)]


def table_digest(tbl: pa.Table) -> list[int]:
    """``digest_of`` computed with Python over an Arrow table."""
    text = html = 0
    for url, t, h in zip(tbl.column("url").to_pylist(),
                         tbl.column("text").to_pylist(),
                         tbl.column("html").to_pylist()):
        u = url.encode()
        if t is not None:
            text += zlib.crc32(u + t.encode())
        if h is not None:
            html += zlib.crc32(u + h)
    return [tbl.num_rows, text, html]
