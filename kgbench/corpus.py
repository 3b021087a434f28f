"""Seeded inputs. The program only ever sees the parquet files written here.

The pages are the repository's deterministic ``pages.page_row(i, N)``
corpus. The seed decides everything else: the row order of the pages
files, which 10 % of the pages a recrawl changes and the text added to
them, the URI the describe query asks about and the per-round order of
the query mix.
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ferenda_spark.pages import VOCAB, doc_uri, family_of, page_row

CHANGED_SHARE = 0.10

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def content_hash(html: bytes) -> str:
    """Same value as the pipeline's ``sha2(html, 256)``."""
    return hashlib.sha256(html).hexdigest()


def revise(row: dict, note: str) -> dict:
    """A recrawled page: the same page with one paragraph added."""
    html = row["html"].decode("utf-8")
    if "</body>" in html:
        html = html.replace("</body>", "<p>Revised: %s.</p>\n</body>" % note, 1)
    else:  # the plain-text (RFC-shaped) family
        html += "\n\n   Revised: %s." % note
    return dict(row, html=html.encode("utf-8"))


class Corpus:
    def __init__(self, n: int, seed: int) -> None:
        rng = random.Random(seed)
        self.n = n
        self.rows = [page_row(i, n) for i in range(n)]
        self.order = list(range(n))
        rng.shuffle(self.order)
        changed = sorted(rng.sample(range(n), round(n * CHANGED_SHARE)))
        note = " ".join(rng.choice(VOCAB) for _ in range(6))
        self.changed_rows = list(self.rows)
        for i in changed:
            self.changed_rows[i] = revise(self.rows[i], note)
        self.changed_urls = {self.rows[i]["url"] for i in changed}
        self.describe_uri = doc_uri(
            rng.choice([i for i in range(n) if family_of(i) == "f2"]))
        self.rng = rng

    def write(self, path: str, changed: bool = False,
              shuffled: bool = True, limit: int | None = None) -> None:
        """The pages file: all pages (or the first ``limit`` in the
        seeded order), after the recrawl if ``changed``."""
        rows = self.changed_rows if changed else self.rows
        if shuffled:
            rows = [rows[i] for i in self.order]
        pq.write_table(pa.Table.from_pylist(rows[:limit],
                                            schema=PAGES_SCHEMA), path)
