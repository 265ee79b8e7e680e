"""Seeded input generators for the benchmark workloads.

They are frozen copies of a noise model, owned by the benchmark: nothing
here imports ``tests/datagen.py`` or ``pgdedupe_spark/corpus.py``, so a
later edit to those cannot silently change what a workload measures. Every
function is a pure function of its seed and size arguments.

Each generator returns plain Python rows plus the ground truth the output
checks need; ``run.py`` writes the rows as parquet before any timing starts.
"""

from __future__ import annotations

import random
import string
from datetime import date, timedelta

PEOPLE_FIRST = [
    "james", "mary", "robert", "patricia", "john", "jennifer", "michael",
    "linda", "david", "elizabeth", "william", "barbara", "richard", "susan",
    "joseph", "jessica", "thomas", "sarah", "charles", "karen", "chris",
    "nancy", "daniel", "lisa", "matthew", "betty", "anthony", "margaret",
    "mark", "sandra", "donald", "ashley", "steven", "kimberly", "paul",
    "emily", "andrew", "donna", "joshua", "michelle", "kenneth", "carol",
]
PEOPLE_LAST = [
    "smith", "johnson", "williams", "brown", "jones", "garcia", "miller",
    "davis", "rodriguez", "martinez", "hernandez", "lopez", "gonzalez",
    "wilson", "anderson", "thomas", "taylor", "moore", "jackson", "martin",
    "lee", "perez", "thompson", "white", "harris", "sanchez", "clark",
    "ramirez", "lewis", "robinson", "walker", "young", "allen", "king",
    "wright", "scott", "torres", "nguyen", "hill", "flores",
]
NICK = {
    "james": "jim", "robert": "bob", "john": "jack", "michael": "mike",
    "william": "bill", "richard": "dick", "joseph": "joe", "thomas": "tom",
    "charles": "chuck", "daniel": "dan", "matthew": "matt", "anthony": "tony",
    "jennifer": "jen", "elizabeth": "liz", "jessica": "jess",
    "margaret": "peggy", "steven": "steve", "kenneth": "ken",
    "andrew": "andy", "joshua": "josh", "kimberly": "kim",
}


def _typo(rng: random.Random, s: str, rate: float) -> str:
    return "".join(
        rng.choice(string.ascii_lowercase) if rng.random() < rate else ch for ch in s
    )


def _ssn(rng: random.Random) -> str:
    return f"{rng.randint(100, 999)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}"


def _ssn_off_by_one(ssn: str) -> str:
    digits = str(int(ssn.replace("-", "")) + 1).zfill(9)
    return f"{digits[:3]}-{digits[3:5]}-{digits[5:]}"


def _dob(rng: random.Random) -> str:
    return f"{rng.randint(1940, 2005)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _munge_dob(rng: random.Random, dob: str) -> str:
    """Date noise: day/month swap, +-1 month, +-1 or +-10 days, +-1 year, or
    a N(0, 6 months) drift; about 85% of draws keep the true date."""
    y, m, d = map(int, dob.split("-"))
    dt = date(y, m, d)
    r = rng.random()
    if dt.day <= 12 and r < 0.01:
        dt = date(dt.year, dt.day, dt.month)
    elif dt.month < 12 and r < 0.02:
        dt = date(dt.year, dt.month + 1, min(dt.day, 28))
    elif dt.month > 1 and r < 0.03:
        dt = date(dt.year, dt.month - 1, min(dt.day, 28))
    elif dt.day < 28 and r < 0.04:
        dt = date(dt.year, dt.month, dt.day + 1)
    elif dt.day > 1 and r < 0.05:
        dt = date(dt.year, dt.month, dt.day - 1)
    elif dt.day > 10 and r < 0.06:
        dt = date(dt.year, dt.month, dt.day - 10)
    elif dt.day < 19 and r < 0.07:
        dt = date(dt.year, dt.month, dt.day + 10)
    elif r < 0.09:
        dt = date(dt.year + rng.choice((-1, 1)), dt.month, min(dt.day, 28))
    elif r < 0.15:
        dt = dt + timedelta(days=rng.normalvariate(0, 365 / 2))
    return dt.isoformat()


def _person(rng: random.Random, pid: int) -> dict:
    return {
        "pid": pid,
        "first": rng.choice(PEOPLE_FIRST),
        "last": rng.choice(PEOPLE_LAST),
        "ssn": _ssn(rng),
        "sex": rng.choice("MF"),
        "dob": _dob(rng),
        "married_last": None,
    }


def _record(rng: random.Random, p: dict, i: int, n_rec: int) -> tuple:
    first, last = p["first"], p["last"]
    if p["married_last"] is not None and i >= (n_rec + 1) // 2:
        last = p["married_last"]
    if rng.random() < 0.2 and first in NICK:
        first = NICK[first]
    ssn = None if rng.random() < 0.15 else p["ssn"]
    sex = None if rng.random() < 0.05 else p["sex"]
    dob = None if rng.random() < 0.05 else _munge_dob(rng, p["dob"])
    return (_typo(rng, first, 1 / 300), _typo(rng, last, 1 / 300), ssn, sex, dob)


def people(seed: int, n_rows: int, copy_rate: float = 0.3, null_last_rate: float = 0.01):
    """The reference-shaped dirty person table, exactly ``n_rows`` long.

    Returns ``(rows, truth)``: rows of ``(entry_id, first_name, last_name,
    ssn, sex, dob, phone)``, truth ``entry_id -> person id``. Noise:
    nicknames, typos, missing ssn/sex/dob, date noise, twins (a different
    person with the same last name and dob and an off-by-one ssn) and
    married names (later records under a new last name). ``copy_rate`` of
    the records repeat an earlier record of the same person verbatim, which
    is what the exact-duplicate collapse removes. ``phone`` is a column
    outside the dedupe fields, shared by a person's records where present;
    the exact merge on it runs on the full source table. A few rows have no
    last name and fall to the pipeline's filter."""
    rng = random.Random(seed)
    persons = []
    # one to 1 + Exp(mean 3) records per person: about 4 rows per person
    for pid in range(n_rows // 3):
        p = _person(rng, pid)
        persons.append(p)
        if rng.random() < 0.1:
            twin = dict(p)
            twin.update(
                pid=n_rows + len(persons),
                first=rng.choice([f for f in PEOPLE_FIRST if f != p["first"]]),
                ssn=_ssn_off_by_one(p["ssn"]),
                sex="F" if p["sex"] == "M" else "M",
            )
            persons.append(twin)
    for p in persons:
        if rng.random() < 0.15:
            p["married_last"] = rng.choice([ln for ln in PEOPLE_LAST if ln != p["last"]])
        p["phone"] = f"{rng.randint(200, 999)}{rng.randint(1000000, 9999999)}"
    rows, truth = [], {}
    for p in persons:
        n_rec = 1 + int(rng.expovariate(1.0 / 3.0))
        made: list[tuple] = []
        for i in range(n_rec):
            if made and rng.random() < copy_rate:
                rec = rng.choice(made)
            else:
                rec = _record(rng, p, i, n_rec)
                made.append(rec)
            if rng.random() < null_last_rate:
                rec = (rec[0], None) + rec[2:]
            phone = p["phone"] if rng.random() < 0.5 else None
            entry_id = len(rows) + 1
            rows.append((entry_id,) + rec + (phone,))
            truth[entry_id] = p["pid"]
            if len(rows) == n_rows:
                return rows, truth
    raise ValueError(f"{len(persons)} people made only {len(rows)} of {n_rows} rows")


def training(seed: int, n: int = 60):
    """Labeled pairs in the reference's training-JSON shape: easy matches
    and non-matches plus a minority of hard cases (twin non-matches,
    married-name matches, namesake non-matches)."""
    rng = random.Random(seed)
    match, distinct = [], []
    for i in range(n):
        first, last = rng.choice(PEOPLE_FIRST), rng.choice(PEOPLE_LAST)
        ssn, sex, dob = _ssn(rng), rng.choice("MF"), _dob(rng)
        a = {"first_name": first, "last_name": last, "ssn": ssn, "sex": sex, "dob": dob}
        f2 = NICK.get(first, first) if rng.random() < 0.4 else _typo(rng, first, 0.05)
        b = {"first_name": f2, "last_name": _typo(rng, last, 0.03),
             "ssn": None if rng.random() < 0.2 else ssn, "sex": sex, "dob": dob}
        match.append((a, b))
        c = {"first_name": rng.choice(PEOPLE_FIRST), "last_name": rng.choice(PEOPLE_LAST),
             "ssn": _ssn(rng), "sex": rng.choice("MF"), "dob": _dob(rng)}
        distinct.append((a, c))
        if i % 3 == 1:
            nk = {"first_name": first, "last_name": rng.choice(PEOPLE_LAST),
                  "ssn": _ssn(rng), "sex": rng.choice("MF"), "dob": _dob(rng)}
            distinct.append((a, nk))
        if i % 6 == 0:
            twin = {"first_name": rng.choice([f for f in PEOPLE_FIRST if f != first]),
                    "last_name": last, "ssn": _ssn_off_by_one(ssn),
                    "sex": "F" if sex == "M" else "M", "dob": dob}
            distinct.append((a, twin))
            married = {"first_name": first,
                       "last_name": rng.choice([ln for ln in PEOPLE_LAST if ln != last]),
                       "ssn": ssn, "sex": sex, "dob": dob}
            match.append((a, married))
    return {"match": match, "distinct": distinct}


def _zipf_vocab(rng: random.Random, size: int) -> list[str]:
    words: dict[str, None] = {}
    while len(words) < size:
        n = rng.randint(3, 9)
        words["".join(rng.choice(string.ascii_lowercase) for _ in range(n))] = None
    return list(words)


def documents(seed: int, n_docs: int, n_groups: int, vocab: int = 5000):
    """A Zipfian corpus with planted near-duplicate groups.

    ``n_docs`` base documents draw 40-90 words from a Zipf(1.1) vocabulary.
    ``n_groups`` of them get one, two or three near copies in turn, in which
    about 4% of the words are replaced, dropped or doubled. Returns ``(rows,
    truth)``: rows of ``(doc_id, text)`` in shuffled id order, truth
    ``doc_id -> group`` where a group is the base document's index, so an
    unplanted document is a group of one."""
    rng = random.Random(seed)
    words = _zipf_vocab(rng, vocab)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(vocab)]
    bases = [rng.choices(words, weights, k=rng.randint(40, 90)) for _ in range(n_docs)]
    docs = [(b, g) for g, b in enumerate(bases)]
    for i, g in enumerate(rng.sample(range(n_docs), n_groups)):
        for _ in range(1 + i % 3):
            copy: list[str] = []
            for w in bases[g]:
                r = rng.random()
                if r < 0.015:
                    copy.append(rng.choices(words, weights)[0])
                elif r < 0.03:
                    continue
                elif r < 0.04:
                    copy.extend((w, w))
                else:
                    copy.append(w)
            docs.append((copy, g))
    rng.shuffle(docs)
    rows = [(i + 1, " ".join(ws)) for i, (ws, _) in enumerate(docs)]
    truth = {i + 1: g for i, (_, g) in enumerate(docs)}
    return rows, truth
