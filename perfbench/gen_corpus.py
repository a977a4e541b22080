"""Seeded death-metal CSV corpus for ``medallion_batch`` and reviews bursts
for the stream rounds of ``serving_mix``.

``generate_corpus`` writes ``{out_dir}/{albums,bands,reviews}.csv`` — the
input layout ``flows.ingest.ingest_folder`` routes by file stem — and
carries every raw-data quirk of FIXTURES.md §A at volume:

- messy headers (surrounding spaces, mixed case, inner spaces) and one
  header that only collides after normalization (``Genre`` / `` genre``);
- embedded header rows inside ``reviews.csv``;
- exact duplicate rows in all three files;
- ``|`` inside review content, commas and unicode inside titles;
- the literal string ``None`` in band names and review titles;
- Brazil spelled ``Brazil`` / ``brazil`` / `` Brasil ``;
- ``N/A`` in ``formed_in`` and blank album years;
- orphan foreign keys (albums → missing bands, reviews → missing albums)
  and albums with no reviews.

Sizes are fixed by the ``scale`` argument; the seed changes values, not
sizes or quirk rates.
"""

from __future__ import annotations

import csv
import io
import os
import random

COUNTRIES = [
    "Sweden", "Norway", "Finland", "Brazil", "brazil", " Brasil ", "United States",
    "Germany", "Poland", "United Kingdom", "Canada", "Netherlands", "France", "Japan",
]
GENRES = ["Death Metal", "Doom/Death", "Technical Death Metal", "Old School Death Metal", "Melodic Death"]
THEMES = ["Death", "Gore", "War", "Occult", "Philosophy", "Misanthropy"]
ACTIVES = ["1990-present", "1987-1993, 1997-", "1995-2005", "unknown", "2001-present", "N/A"]
STATUSES = ["Active", "Active", "Split-up", "On hold", "Changed name"]
WORDS = [
    "Morbid", "Eternal", "Rotting", "Abyss", "Crypt", "Funeral", "Ångest", "Öde", "Séance",
    "Carnage", "Necrotic", "Void", "Plague", "Torment", "Obscure", "Requiem",
]
REVIEW_WORDS = ["riffs", "brutal", "production", "drums", "vocals", "solos", "heavy", "raw", "tight", "slow"]

BANDS_HEADER = [" Id ", "Name", "COUNTRY", "Genre", "Theme", "Status", "Formed In", "Active", " genre"]
ALBUMS_HEADER = ["id", "Title", "band", " Year"]
REVIEWS_HEADER = ["id", "album", "title", "score", "content"]


def corpus_sizes(scale: int) -> dict[str, int]:
    """Rows before quirk injection: ``scale`` bands, 5x albums, 25x reviews."""
    return {"bands": scale, "albums": 5 * scale, "reviews": 25 * scale}


def _title(rng: random.Random, i: int) -> str:
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3)))
    return f"{words}, Part {i % 7}" if i % 9 == 0 else words


def _review_content(rng: random.Random, i: int) -> str:
    words = [rng.choice(REVIEW_WORDS) for _ in range(rng.randint(4, 14))]
    if i % 3 == 0:
        return "|".join(" ".join(words[k : k + 3]) for k in range(0, len(words), 3))
    return " ".join(words)


def _write_csv(path: str, header: list[str], rows: list[list]) -> int:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    data = buf.getvalue().encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _with_duplicates(rng: random.Random, rows: list[list], every: int) -> list[list]:
    """Every ``every`` rows, repeat one of the rows written so far."""
    out: list[list] = []
    for i, row in enumerate(rows):
        out.append(row)
        if i % every == every - 1:
            out.append(list(out[rng.randrange(len(out))]))  # exact duplicate
    return out


def _with_rows_at(rng: random.Random, rows: list[list], extra: list, count: int) -> list[list]:
    """``rows`` with ``count`` copies of ``extra`` at random positions."""
    cuts = sorted(rng.randint(1, len(rows) - 1) for _ in range(count))
    out: list[list] = []
    prev = 0
    for cut in cuts:
        out.extend(rows[prev:cut])
        out.append(list(extra))
        prev = cut
    out.extend(rows[prev:])
    return out


def band_rows(rng: random.Random, n: int) -> list[list]:
    rows = []
    for i in range(1, n + 1):
        # Weighted towards Sweden so top-10-per-country truncates.
        country = "Sweden" if rng.random() < 0.3 else rng.choice(COUNTRIES)
        rows.append([
            i,
            "None" if i % 23 == 0 else f"{rng.choice(WORDS)} {rng.choice(WORDS)} {i}",
            country,
            rng.choice(GENRES),
            rng.choice(THEMES),
            rng.choice(STATUSES),
            "N/A" if i % 13 == 0 else str(rng.randint(1980, 2015)),
            rng.choice(ACTIVES),
            rng.choice(GENRES).lower(),
        ])
    return rows


def album_rows(rng: random.Random, n: int, n_bands: int) -> list[list]:
    rows = []
    for i in range(1, n + 1):
        # ~2% orphan FKs: band ids past the last band.
        band = rng.randint(n_bands + 1, n_bands + 20) if rng.random() < 0.02 else rng.randint(1, n_bands)
        year = "" if i % 17 == 0 else str(rng.randint(1985, 2024))
        rows.append([i, _title(rng, i), band, year])
    return rows


def review_rows(rng: random.Random, n: int, n_albums: int, id_base: int = 0) -> list[list]:
    rows = []
    # The last 5% of albums never get a review (right-join null path).
    reviewed = max(1, int(n_albums * 0.95))
    for i in range(id_base + 1, id_base + n + 1):
        album = rng.randint(n_albums + 1, n_albums + 50) if rng.random() < 0.02 else rng.randint(1, reviewed)
        title = "None" if i % 29 == 0 else f"{rng.choice(WORDS)} review {i}"
        score = rng.randint(0, 10_000) / 100.0
        rows.append([i, album, title, score, _review_content(rng, i)])
    return rows


def generate_corpus(out_dir: str, seed: int, scale: int) -> dict:
    """Write the three source CSVs; returns row counts and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    n = corpus_sizes(scale)
    bands = _with_duplicates(rng, band_rows(rng, n["bands"]), 97)
    albums = _with_duplicates(rng, album_rows(rng, n["albums"], n["bands"]), 89)
    reviews = _with_duplicates(rng, review_rows(rng, n["reviews"], n["albums"]), 83)
    # Embedded header rows: the residue of concatenated chunk files.
    reviews = _with_rows_at(rng, reviews, REVIEWS_HEADER, max(2, n["reviews"] // 5000))
    written = {
        "bands": _write_csv(os.path.join(out_dir, "bands.csv"), BANDS_HEADER, bands),
        "albums": _write_csv(os.path.join(out_dir, "albums.csv"), ALBUMS_HEADER, albums),
        "reviews": _write_csv(os.path.join(out_dir, "reviews.csv"), REVIEWS_HEADER, reviews),
    }
    return {
        "rows": {"bands": len(bands), "albums": len(albums), "reviews": len(reviews)},
        "bytes": sum(written.values()),
    }


def reviews_burst(seed: int, round_no: int, rows: int, n_albums: int = 1000) -> str:
    """One stream-round burst: ``rows`` reviews as CSV text with a
    header. Review ids are ``round_no * rows + 1 ..`` so ids never repeat
    across rounds — any duplicate in bronze is a delivery error."""
    rng = random.Random(seed * 1_000_003 + round_no)
    body = review_rows(rng, rows, n_albums, id_base=round_no * rows)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(REVIEWS_HEADER)
    w.writerows(body)
    return buf.getvalue()
