"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, byte for byte. The legislative snowflake is synthetic; the
corpus, vectors and star tables of ``lake_ops`` are fixed copies of the
repository's test data, of which the seed only draws splits.

The legislative snowflake follows FIXTURES.md §1 at the published
per-group shape (203 House and 50 Senate seats, ~720 roll calls per
(year, chamber)), with the dirty cases the ER layer exists for:
nickname duplicate members, shared surnames told apart by first name or
initial, and bare-surname voters. Its ground truth is the exact vote
matrix the export must write.
"""

from __future__ import annotations

import datetime as dt
import zlib

import numpy as np
import pandas as pd

SEATS = {1: 203, 2: 50}  # chamber -> seats (1=House, 2=Senate)
LETTERS = {1: "Y", 2: "N", 3: "X", 4: "E"}
# FIXTURES.md vote mix: Y 85%, N 12.5%, E 2.3%, X 0.16% (codes 1, 2, 4, 3)
VOTE_P = np.array([0.85, 0.125, 0.0016, 0.0234])
FIRSTS = [
    "Alice", "Brian", "Carol", "Diane", "Ellen", "Frank", "Grace", "Irene",
    "Karen", "Maria", "Nancy", "Oscar", "Quinn", "Rosa", "Steve", "Tina",
    "Ulric", "Vera", "Walt", "Xena", "Yves", "Zoe", "Hope", "Jason",
]  # distinct initials: "SURNAME, A." must name one member of a block
# (formal, nickname) pairs the ER nickname table knows
NICK_PAIRS = [
    ("Michael", "Mike"), ("William", "Bill"), ("Robert", "Bob"),
    ("Richard", "Dick"), ("Thomas", "Tom"), ("Joseph", "Joe"),
]
SYLLABLES = [
    "bar", "cor", "dal", "fen", "gar", "hol", "kin", "lam", "mor", "nes",
    "pol", "quin", "ros", "sten", "tor", "val", "wes", "yor", "zel", "bri",
]
PARTIES = ["Democrat", "Republican"]


def stable_seed(*parts) -> int:
    """A 32-bit seed derived from the parts, stable across runs."""
    return zlib.crc32("/".join(map(str, parts)).encode())


def _surnames(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct synthetic surnames of three syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        s = "".join(rng.choice(SYLLABLES, 3)).capitalize()
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def legis_snowflake(
    seed: int, groups: list[tuple[int, int]], rolls_per_group: int = 720
) -> tuple[dict[str, pd.DataFrame], dict]:
    """Returns (tables, truth).

    ``groups`` lists the (year, chamber) sessions to generate; members
    and seats are shared by every year. tables: sessions, session_days,
    roll_calls, votes, members, service as pandas frames in the declared
    snowflake column order.
    truth[(year, chamber)] = {"surnames": [...] in column order,
    "rows": [[roll name, number, display stamp, cell per column], ...]
    in export order}, the CSV body the export must write.
    """
    rng = np.random.default_rng(stable_seed("legis", seed))
    members: list[tuple] = []
    seats: dict[int, list[dict]] = {}
    next_id = 1
    surnames = _surnames(rng, sum(SEATS.values()))
    si = 0
    for chamber, n_seats in SEATS.items():
        # fixed counts per chamber, seeded placement: every seed does
        # the same amount of ER work
        n_pairs, n_nick = n_seats // 20, n_seats // 16
        n_plain = n_seats - 2 * n_pairs - n_nick
        units = rng.permutation(["shared"] * n_pairs + ["nick"] * n_nick + ["plain"] * n_plain)
        bare = set(rng.choice(n_plain, n_plain // 3, replace=False).tolist())
        rows: list[dict] = []
        d = plain = 0
        for kind in units:
            last = surnames[si]
            si += 1
            if kind == "shared":
                # two seats, one surname, different first initials
                f1, f2 = rng.choice(len(FIRSTS), 2, replace=False)
                for j, (f, vote_name) in enumerate([
                    (FIRSTS[f1], f"{last.upper()}, {FIRSTS[f1].upper()}"),
                    (FIRSTS[f2], f"{last.upper()}, {FIRSTS[f2][0]}."),
                ]):
                    rows.append(dict(district=d + j + 1, ids=[next_id], first=f,
                                     last=last, vote_name=vote_name))
                    members.append((next_id, chamber, 0, f, last))
                    next_id += 1
                d += 2
            elif kind == "nick":
                formal, nick = NICK_PAIRS[int(rng.integers(len(NICK_PAIRS)))]
                rows.append(dict(district=d + 1, ids=[next_id, next_id + 1],
                                 first=formal, last=last, vote_name=last.upper()))
                members.append((next_id, chamber, 0, formal, last))
                members.append((next_id + 1, chamber, 1, nick, last))
                next_id += 2
                d += 1
            else:
                first = FIRSTS[int(rng.integers(len(FIRSTS)))]
                vote_name = (last.upper() if plain in bare
                             else f"{last.upper()}, {first.upper()}")
                rows.append(dict(district=d + 1, ids=[next_id], first=first,
                                 last=last, vote_name=vote_name))
                members.append((next_id, chamber, 0, first, last))
                next_id += 1
                plain += 1
                d += 1
        for r in rows:
            r["party"] = PARTIES[int(rng.integers(2))]
        seats[chamber] = rows

    id_cols = ["house_archive_id", "house_current_id", "senate_archive_id", "senate_current_id"]
    mem_rows = []
    for mid, chamber, slot, first, last in members:
        idv = {c: None for c in id_cols}
        idv[id_cols[(chamber - 1) * 2 + slot]] = 10_000 + mid
        mem_rows.append(dict(id=mid, **idv, first=first, middle=None, last=last,
                             suffix=None, dob=None, last_crawl=None))
    members_df = pd.DataFrame(mem_rows)

    service, sessions, days, rolls, votes = [], [], [], [], []
    truth: dict = {}
    crawl = dt.datetime(max(y for y, _ in groups) + 1, 1, 1)
    day_id, roll_id = 1, 1
    for year, chamber in groups:
        rows = seats[chamber]
        sid = year * 10 + chamber
        sessions.append((sid, chamber, year, 0, f"{year}-{year + 1} Regular Session", crawl))
        for r in rows:
            for mid in r["ids"]:
                service.append((mid, year, chamber, r["district"], r["party"]))
        n_days = max(1, rolls_per_group // 12)
        per_day = np.diff(np.linspace(0, rolls_per_group, n_days + 1).astype(int))
        order: list[list[str]] = []
        number = 1
        for k in range(n_days):
            date = dt.date(year, 1, 5) + dt.timedelta(days=2 * k)
            days.append((day_id, sid, date, crawl))
            for i in range(per_day[k]):
                stamp = (dt.datetime.combine(date, dt.time(9, 0))
                         + dt.timedelta(minutes=7 * i))
                if rng.random() < 0.05:
                    stamp = None
                name = f"HB {int(rng.integers(1, 3000))} PN {number}"
                rolls.append((roll_id, day_id, year, 0, chamber, number,
                              name, stamp, crawl))
                present = rng.random(len(rows)) >= 0.01
                codes = rng.choice(4, len(rows), p=VOTE_P) + 1
                row_cells = []
                for r, p, c in zip(rows, present, codes):
                    if p:
                        votes.append((sid, roll_id, r["vote_name"], int(c), None))
                    row_cells.append(LETTERS[int(c)] if p else "")
                disp = (str(date) if stamp is None
                        else stamp.strftime("%Y-%m-%d %H:%M:%S"))
                order.append([name, str(number), disp] + row_cells)
                roll_id += 1
                number += 1
            day_id += 1
        truth[(year, chamber)] = {
            "surnames": [r["last"] for r in rows],
            "rows": order,
        }

    tables = {
        "members": members_df,
        "service": pd.DataFrame(service, columns=["member_id", "year", "chamber", "district", "party"]),
        "sessions": pd.DataFrame(sessions, columns=["id", "chamber", "year", "session_index", "name", "last_crawl"]),
        "session_days": pd.DataFrame(days, columns=["id", "session_id", "date", "last_crawl"]),
        "roll_calls": pd.DataFrame(rolls, columns=["id", "day_id", "session_year", "session_index",
                                                   "chamber", "number", "name", "stamp", "last_crawl"]),
        "votes": pd.DataFrame(votes, columns=["session_id", "roll_id", "name", "vote", "member_id"]),
    }
    return tables, truth


# --------------------------------------------------------------------------
# lake_ops: seed-drawn splits of the fixed documents and vectors
# --------------------------------------------------------------------------

def lake_split(seed: int, n_docs: int, n_vectors: int, bpe_sample: int,
               batch: int, delta_share: float = 0.1) -> dict[str, np.ndarray]:
    """Sorted row indices drawn from the seed: ``bpe_train``, the
    documents the BPE merge table is trained on; ``query``, the query
    batch; ``delta``, the vectors held out of the index and appended to
    it. Query and delta rows are disjoint; the rest is the base index."""
    rng = np.random.default_rng(stable_seed("lake", seed))
    train = rng.choice(n_docs, bpe_sample, replace=False)
    perm = rng.permutation(n_vectors)
    n_delta = int(n_vectors * delta_share)
    return {"bpe_train": np.sort(train), "query": np.sort(perm[:batch]),
            "delta": np.sort(perm[batch:batch + n_delta])}


def topk_cosine(base: np.ndarray, base_ids: np.ndarray, queries: np.ndarray,
                k: int = 5) -> list[list[int]]:
    """Exact top-k neighbour ids per query by cosine, ties to the
    smaller id (the brute_force_topk contract)."""
    b = base / np.linalg.norm(base, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q.astype(np.float64) @ b.T.astype(np.float64)
    out = []
    for row in sims:
        order = np.lexsort((base_ids, -row))[:k]
        out.append([int(base_ids[j]) for j in order])
    return out
