"""Seeded input generator for the voter-gateway benchmark.

Everything the benchmarked program reads is written here, from a seed
alone, with plain Python and pyarrow (no Spark), so identical seeds give
identical bytes. Each workload gets its own directory:

- ``voter_import``: ``import.csv`` (pipe-delimited, caret-quoted,
  Latin-1, with a known number of malformed lines) and ``voters/`` (the
  FIXTURES section 1 master table, holding seeded 2-4-row duplicate
  clusters). The CSV overlaps the master 60 / 15 / 25 percent:
  exact-key matches, fuzzy-only matches (typo'd ``addr2``) and new rows.
- ``voter_stream``: ``voters/`` plus ``batches/batch-NNNN.parquet``, each
  a fixed-size upsert batch; every master row is updated at most once
  over the whole stream and inserted rows carry fresh keys, so applying
  the batches one by one equals one bulk merge of all of them.
- ``corpus_daily``: ``genesis.parquet`` (a documents-schema corpus with
  injected near- and exact duplicates) and ``days/day-NNNN.parquet``,
  fixed-size daily batches mixing fresh docs, near-duplicates and exact
  duplicates of docs already admitted.

``truth.json`` beside the inputs records what the checks compare
against: per-rule exact overlap, malformed, fuzzy-only and new row
counts, duplicate clusters, and per-day exact-duplicate doc counts.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed per workload and independent of the seed; the seed
# only changes content. See README.md for why each size was chosen.
SIZES = {
    "voter_import": {"target_rows": 1200, "csv_rows": 300, "malformed": 30},
    "voter_stream": {"target_rows": 4000, "batch_rows": 200, "batches": 30},
    "corpus_daily": {"genesis_docs": 500, "day_docs": 50, "days": 30},
}

FIRST = (
    "MARY JAMES PATRICIA JOHN JENNIFER ROBERT LINDA MICHAEL ELIZABETH "
    "WILLIAM BARBARA DAVID SUSAN RICHARD JESSICA JOSEPH SARAH THOMAS KAREN "
    "CHARLES NANCY CHRISTOPHER LISA DANIEL BETTY MATTHEW MARGARET ANTHONY "
    "SANDRA MARK ASHLEY DONALD KIMBERLY STEVEN EMILY PAUL DONNA ANDREW "
    "MICHELLE JOSHUA CAROL KENNETH AMANDA KEVIN DOROTHY BRIAN MELISSA GEORGE "
    "DEBORAH TIMOTHY STEPHANIE RONALD REBECCA EDWARD SHARON JASON LAURA "
    "JEFFREY CYNTHIA RYAN KATHLEEN JACOB AMY GARY ANGELA NICHOLAS SHIRLEY "
    "ERIC ANNA JONATHAN BRENDA STEPHEN PAMELA LARRY EMMA JUSTIN NICOLE SCOTT "
    "HELEN BRANDON SAMANTHA BENJAMIN KATHERINE SAMUEL CHRISTINE GREGORY "
    "DEBRA ALEXANDER RACHEL FRANK CAROLYN PATRICK JANET RAYMOND CATHERINE "
    "JACK MARIA DENNIS HEATHER JERRY DIANE"
).split() + ["JOSÉ", "RENÉE", "ZOË", "JOËL", "ANDRÉ", "NOÉMIE", "MÅNS", "IÑIGO"]

LAST = (
    "SMITH JOHNSON WILLIAMS BROWN JONES GARCIA MILLER DAVIS RODRIGUEZ "
    "MARTINEZ HERNANDEZ LOPEZ GONZALEZ WILSON ANDERSON THOMAS TAYLOR MOORE "
    "JACKSON MARTIN LEE PEREZ THOMPSON WHITE HARRIS SANCHEZ CLARK RAMIREZ "
    "LEWIS ROBINSON WALKER YOUNG ALLEN KING WRIGHT SCOTT TORRES NGUYEN HILL "
    "FLORES GREEN ADAMS NELSON BAKER HALL RIVERA CAMPBELL MITCHELL CARTER "
    "ROBERTS GOMEZ PHILLIPS EVANS TURNER DIAZ PARKER CRUZ EDWARDS COLLINS "
    "REYES STEWART MORRIS MORALES MURPHY COOK ROGERS GUTIERREZ ORTIZ MORGAN "
    "COOPER PETERSON BAILEY REED KELLY HOWARD RAMOS KIM COX WARD RICHARDSON "
    "WATSON BROOKS CHAVEZ WOOD JAMES BENNETT GRAY MENDOZA RUIZ HUGHES PRICE "
    "ALVAREZ CASTILLO SANDERS PATEL MYERS LONG ROSS FOSTER JIMENEZ POWELL"
).split() + ["MUÑOZ", "NÚÑEZ", "MÜLLER", "PEÑA", "GÓMEZ", "BJÖRK", "FAÇADE", "LEÓN"]

SUFFIXES = (
    "ST AVE RD DR LN CT BLVD WAY PL TER CIR PKWY HWY TRL LOOP RUN PASS PATH "
    "ROW SQ XING WALK BND CV PT"
).split()
_CONSONANTS = "BCDFGHKLMNPRSTVWZ"
_VOWELS = "AEIOU"
GENDERS = ["F", "M", "U"]
DEMOS = ["W", "B", "H", "A", "O", "U"]
PARTIES = ["DEM", "REP", "GRN", "LIB", "NP"]
STATUSES = ["ACTIVE", "INACTIVE", "PURGED", "PENDING"]

CSV_HEADER = [
    "state_voter_id", "voterid", "first_name", "middle_name", "last_name",
    "phone", "email", "dob", "gender", "party", "reg_date", "addr1",
    "addr2", "zip5", "zip4",
]

VOTER_SCHEMA = pa.schema(
    [
        ("nbec_guid", pa.string()),
        ("id", pa.int64()),
        ("state_file_id", pa.string()),
        ("county_file_id", pa.string()),
        ("first_name", pa.string()),
        ("middle_name", pa.string()),
        ("last_name", pa.string()),
        ("phone", pa.string()),
        ("email", pa.string()),
        ("born_at", pa.date32()),
        ("age", pa.int32()),
        ("gender", pa.string()),
        ("demo", pa.string()),
        ("party", pa.string()),
        ("reg_status", pa.string()),
        ("registered_at", pa.date32()),
        ("is_perm_absentee", pa.bool_()),
        ("residential_address1", pa.string()),
        ("residential_address2", pa.string()),
        ("residential_zip5", pa.string()),
        ("residential_zip4", pa.string()),
        ("residential_lat", pa.decimal128(9, 6)),
        ("residential_lng", pa.decimal128(9, 6)),
    ]
)

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

_EPOCH = dt.date(1930, 1, 1)


def _write_parquet(rows: list[dict], schema: pa.Schema, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="snappy")


def _date(rng: random.Random, span_days: int) -> dt.date:
    return _EPOCH + dt.timedelta(days=rng.randrange(span_days))


def _address(rng: random.Random) -> str:
    """House number, a two-syllable street name and a suffix: street
    names are drawn from ~10^6 combinations, so unrelated addresses share
    few trigrams and the fuzzy round's candidate fan-out stays bounded."""
    street = "".join(
        rng.choice(_CONSONANTS) + rng.choice(_VOWELS) + rng.choice(_CONSONANTS)
        for _ in range(2)
    )
    addr = f"{rng.randrange(1, 99999)} {street} {rng.choice(SUFFIXES)}"
    if rng.random() < 0.05:
        addr += f" UNIT {rng.randrange(1, 400)}"
    return addr


def _typo(rng: random.Random, text: str) -> str:
    """One substituted letter inside the street name: trigram similarity
    to the original stays well above the fuzzy threshold."""
    start = text.index(" ") + 1
    end = text.index(" ", start)
    i = rng.randrange(start, end)
    letter = rng.choice([c for c in "AEIOUNRST" if c != text[i]])
    return text[:i] + letter + text[i + 1:]


class _Keys:
    """Unique (first, last, born) identities, so the only duplicate
    clusters are the ones seeded on purpose."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.used: set[tuple[str, str, dt.date]] = set()

    def fresh(self) -> tuple[str, str, dt.date]:
        while True:
            key = (
                self.rng.choice(FIRST),
                self.rng.choice(LAST),
                _date(self.rng, 365 * 70),
            )
            if key not in self.used:
                self.used.add(key)
                return key


def _voter(rng: random.Random, i: int, key, tag: str) -> dict:
    first, last, born = key
    return {
        "nbec_guid": f"{tag}-{i:07d}",
        "id": i + 1,
        "state_file_id": None if rng.random() < 0.05 else f"ST{i:08d}",
        "county_file_id": f"CO{i:08d}",
        "first_name": first,
        "middle_name": rng.choice(FIRST) if rng.random() < 0.3 else None,
        "last_name": last,
        "phone": f"555-{rng.randrange(10000):04d}",
        "email": f"{first.lower()}.{i}@example.org" if rng.random() < 0.8 else "not-an-email",
        "born_at": born,
        "age": 2026 - born.year,
        "gender": rng.choice(GENDERS),
        "demo": rng.choice(DEMOS),
        "party": rng.choice(PARTIES),
        "reg_status": rng.choice(STATUSES),
        "registered_at": _date(rng, 365 * 90),
        "is_perm_absentee": rng.random() < 0.2,
        "residential_address1": "" if rng.random() < 0.1 else _address(rng),
        "residential_address2": _address(rng),
        "residential_zip5": f"{rng.randrange(100000):05d}",
        "residential_zip4": f"{rng.randrange(10000):04d}",
        "residential_lat": None,
        "residential_lng": None,
    }


def _master(rng: random.Random, n: int, tag: str, keys: _Keys) -> tuple[list[dict], int, int]:
    """The voters table with seeded duplicate clusters of 2-4 rows
    agreeing on (first_name, last_name, born_at). Returns the rows, the
    cluster count and the number of rows a dedup removes."""
    identities: list[tuple[str, str, dt.date]] = []
    clusters = dup_rows = 0
    while len(identities) < n:
        key = keys.fresh()
        if rng.random() < 0.1:
            size = min(rng.randint(2, 4), n - len(identities))
            if size >= 2:
                clusters += 1
                dup_rows += size - 1
            identities.extend([key] * size)
        else:
            identities.append(key)
    rng.shuffle(identities)
    return [_voter(rng, i, k, tag) for i, k in enumerate(identities)], clusters, dup_rows


def _csv_field(value) -> str:
    if value is None:
        return ""
    value = str(value)
    if "|" in value:
        return f"^{value}^"
    return value


def _csv_row(fields: list) -> str:
    return "|".join(_csv_field(f) for f in fields)


def _import_row(rng: random.Random, v: dict, state_id, voterid, addr2, dob) -> list:
    addr1 = v["residential_address1"]
    if addr1 and rng.random() < 0.05:
        addr1 += "|REAR"  # embedded delimiter: caret-quoted, still well-formed
    return [
        state_id,
        voterid,
        v["first_name"].title(),
        v["middle_name"],
        v["last_name"].title(),
        f"555-{rng.randrange(10000):04d}",
        v["email"],
        dob,
        v["gender"],
        rng.choice(PARTIES),
        v["registered_at"].isoformat(),
        addr1,
        addr2,
        f"{rng.randrange(100000):05d}" if rng.random() < 0.7 else None,
        f"{rng.randrange(10000):04d}",
    ]


def gen_voter_import(seed: int, out: Path) -> dict:
    size = SIZES["voter_import"]
    rng = random.Random(f"voter_import:{seed}")
    keys = _Keys(rng)
    master, clusters, dup_rows = _master(rng, size["target_rows"], "G", keys)
    n = size["csv_rows"]
    n_rule1, n_rule2 = n * 45 // 100, n * 15 // 100
    n_fuzzy = n * 15 // 100
    n_new = n - n_rule1 - n_rule2 - n_fuzzy
    with_state = [v for v in master if v["state_file_id"] is not None]
    picked = rng.sample(with_state, n_rule1 + n_rule2 + n_fuzzy)
    lines = []
    for j, v in enumerate(picked):
        dob = v["born_at"].isoformat()
        if j < n_rule1:  # rule 1: state_file_id
            row = _import_row(rng, v, v["state_file_id"], v["county_file_id"], v["residential_address2"], dob)
        elif j < n_rule1 + n_rule2:  # rule 2: county_file_id + last_name
            row = _import_row(rng, v, None, v["county_file_id"], v["residential_address2"], dob)
        else:  # fuzzy-only: fresh ids, typo'd address, unparseable dob
            row = _import_row(rng, v, None, f"VF{j:08d}", _typo(rng, v["residential_address2"]), "00/00/0000")
        lines.append(_csv_row(row))
    for j in range(n_new):
        v = _voter(rng, j, keys.fresh(), "N")
        lines.append(_csv_row(_import_row(rng, v, f"SN{j:08d}", f"VN{j:08d}", v["residential_address2"], v["born_at"].isoformat())))
    # malformed lines: extra fields, missing fields, blank lines; each is
    # cut from a well-formed line (cutting the extra field off an earlier
    # malformed line would give a well-formed duplicate)
    n_bad = size["malformed"]
    valid = list(lines)
    for j in range(n_bad):
        kind = j % 3
        if kind == 0:
            lines.append(rng.choice(valid) + "|EXTRA")
        elif kind == 1:
            lines.append(rng.choice(valid).rsplit("|", 1)[0])
        else:
            lines.append("")
    rng.shuffle(lines)
    out.mkdir(parents=True, exist_ok=True)
    with open(out / "import.csv", "w", encoding="latin-1", newline="\n") as fh:
        fh.write("|".join(CSV_HEADER) + "\n")
        for line in lines:
            fh.write(line + "\n")
    _write_parquet(master, VOTER_SCHEMA, out / "voters" / "part-00000.parquet")
    return {
        "csv_rows": n,
        "malformed_rows": n_bad,
        "exact_rule1": n_rule1,
        "exact_rule2": n_rule2,
        "exact_overlap": n_rule1 + n_rule2,
        "fuzzy_rows": n_fuzzy,
        "new_rows": n_new,
        "target_rows": len(master),
        "clusters": clusters,
        "cluster_dup_rows": dup_rows,
    }


def gen_voter_stream(seed: int, out: Path) -> dict:
    size = SIZES["voter_stream"]
    rng = random.Random(f"voter_stream:{seed}")
    keys = _Keys(rng)
    master, clusters, dup_rows = _master(rng, size["target_rows"], "G", keys)
    _write_parquet(master, VOTER_SCHEMA, out / "voters" / "part-00000.parquet")
    b = size["batch_rows"]
    n_upd = b // 2
    order = rng.sample(master, min(len(master), n_upd * size["batches"]))
    inserted = 0
    for k in range(size["batches"]):
        rows = []
        for j, v in enumerate(order[k * n_upd:(k + 1) * n_upd]):
            row = dict(v)
            row["nbec_guid"] = f"U{k:04d}-{j:05d}"
            row["id"] = None
            if j % 4 == 3:  # rule 2 (county_file_id + last_name)
                row["state_file_id"] = None
            row["phone"] = f"555-{rng.randrange(10000):04d}"
            row["residential_address2"] = _address(rng)
            row["residential_zip5"] = f"{rng.randrange(100000):05d}" if rng.random() < 0.7 else None
            row["residential_zip4"] = f"{rng.randrange(10000):04d}"
            rows.append(row)
        for j in range(b - len(rows)):
            v = _voter(rng, j, keys.fresh(), f"S{k:04d}")
            v["id"] = None
            v["state_file_id"] = f"SS{k:04d}{j:05d}"
            v["county_file_id"] = f"CS{k:04d}{j:05d}"
            rows.append(v)
            inserted += 1
        rng.shuffle(rows)
        _write_parquet(rows, VOTER_SCHEMA, out / "batches" / f"batch-{k:04d}.parquet")
    return {
        "target_rows": len(master),
        "batch_rows": b,
        "batches": size["batches"],
        "updates_per_batch": n_upd,
        "inserts_per_batch": b - n_upd,
        "clusters": clusters,
        "cluster_dup_rows": dup_rows,
    }


def _vocab(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ru", "te", "sa", "ne", "po", "di", "gu", "ve", "zo", "ar", "el", "in", "os"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _doc_text(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60)))


def _near_dup(rng: random.Random, text: str, vocab: list[str]) -> str:
    """Replace about 8 percent of the words: 3-shingle Jaccard to the
    original stays far above the 0.1 near-dup threshold."""
    words = text.split()
    for _ in range(max(1, len(words) // 12)):
        words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def _doc(rng: random.Random, doc_id: int, text: str) -> dict:
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": rng.choice(["en", "de", "fr", "es"]),
        "source": rng.choice(["web", "news", "forum", "wiki"]),
        "n_chars": len(text),
    }


def gen_corpus_daily(seed: int, out: Path) -> dict:
    size = SIZES["corpus_daily"]
    rng = random.Random(f"corpus_daily:{seed}")
    vocab = _vocab(rng, 4000)
    genesis: list[dict] = []
    for i in range(size["genesis_docs"]):
        r = rng.random()
        if genesis and r < 0.05:
            text = rng.choice(genesis)["text"]
        elif genesis and r < 0.15:
            text = _near_dup(rng, rng.choice(genesis)["text"], vocab)
        else:
            text = _doc_text(rng, vocab)
        genesis.append(_doc(rng, i, text))
    _write_parquet(genesis, DOC_SCHEMA, out / "genesis.parquet")
    corpus_texts = [d["text"] for d in genesis]
    corpus_set = set(corpus_texts)
    next_id = len(genesis)
    day_dups = []
    for k in range(size["days"]):
        day: list[dict] = []
        dups = 0
        for _ in range(size["day_docs"]):
            r = rng.random()
            if r < 0.10:
                text = rng.choice(corpus_texts)
            elif r < 0.25:
                text = _near_dup(rng, rng.choice(corpus_texts), vocab)
            elif day and r < 0.30:
                text = _near_dup(rng, rng.choice(day)["text"], vocab)
            else:
                text = _doc_text(rng, vocab)
            if text in corpus_set:
                dups += 1
            day.append(_doc(rng, next_id, text))
            next_id += 1
        _write_parquet(day, DOC_SCHEMA, out / "days" / f"day-{k:04d}.parquet")
        day_dups.append(dups)
        for d in day:
            if d["text"] not in corpus_set:
                corpus_set.add(d["text"])
                corpus_texts.append(d["text"])
    return {
        "genesis_docs": len(genesis),
        "day_docs": size["day_docs"],
        "days": size["days"],
        "exact_dup_docs": day_dups,
    }


GENERATORS = {
    "voter_import": gen_voter_import,
    "voter_stream": gen_voter_stream,
    "corpus_daily": gen_corpus_daily,
}


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write the workload's inputs under `out` and return the truth
    sidecar (also written to ``out/truth.json``)."""
    truth = GENERATORS[workload](seed, out)
    truth = {"workload": workload, "seed": seed, **truth}
    (out / "truth.json").write_text(json.dumps(truth, indent=1, sort_keys=True) + "\n")
    return truth
