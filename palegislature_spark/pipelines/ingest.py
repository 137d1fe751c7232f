"""Crawl-shape ingest: fetch → parse → merge-upsert (SURVEY §3.1,
§2.1 S1-S3, §2.8 UDTF surface).

The reference crawls web pages sequentially in the driver
(``crawl.py:34-47`` fetch, ``:73-113`` parse, ``db.update`` upserts).
The distributed shape is three stages:

  1. **fetch** — a work queue of URLs (``sources/queue.py``) mapped
     through an injectable ``PageSource`` inside ``mapInPandas``
     (executor-side, partition-parallel; a requests session per
     partition in production, stored payloads in tests — the
     reference's ``.cached_html`` cache (S2) becomes a bronze Parquet
     layer of raw payloads);
  2. **parse** — payload -> typed rows. Structured payloads parse
     JVM-side with ``from_json`` + ``explode`` (the UDTF shape: one
     page -> many rows); raw-HTML parsing would plug a pandas UDF
     into the same seam;
  3. **upsert** — ``sources/merge.py merge_by_key``, matching the
     reference's ``db.update(table, row, keys)`` semantics.

No network access happens in this repo: the HTTP page source is a
documented stub; tests inject stored payloads. Everything else —
work-queue scan, partition-parallel fetch plumbing, parse plans,
merge writes — is the production path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palegislature_spark.operators.kernels import map_batches

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("fetched_at", T.TimestampType()),
    ]
)

# Payload contracts (the JSON the parse stages expect; a production
# HTML source emits the same shapes from a pandas-UDF extractor).
SESSION_PAGE_SCHEMA = (
    "struct<chamber:int, sessions:array<struct<code:string, name:string, "
    "selected:boolean>>, days:array<struct<month:string, day:int>>>"
)

# Floor-votes page of one session day (crawl.py:116-169): a DataTable
# of roll-call links whose query params carry the roll identity.
DAY_PAGE_SCHEMA = (
    "struct<day_id:bigint, rolls:array<struct<rc_nbr:int, sess_yr:int, "
    "sess_ind:int, rc_body:string, name:string>>>"
)

# One roll-call page (crawl.py:172-220): individual letter votes plus
# an optional timestamp (date + time strings; time may be absent).
ROLL_PAGE_SCHEMA = (
    "struct<session_id:bigint, roll_id:bigint, "
    "votes:array<struct<vote:string, name:string>>, "
    "date_s:string, time_s:string>"
)

# Historical member-list page (crawl.py:302-330): archive links whose
# ID query param is the chamber's archive id.
MEMBER_LIST_SCHEMA = (
    "struct<chamber:int, members:array<struct<archive_id:bigint, "
    "full_name:string>>>"
)

# Current/per-year member list (crawl.py:378-506): SessYear dropdown
# (crawl bookkeeping + selected year range) and per-member wrappers
# with current_id, party letter and district.
CURRENT_ROLL_SCHEMA = (
    "struct<chamber:int, session_year_options:array<string>, "
    "year_range_s:string, members:array<struct<current_id:bigint, "
    "full_name:string, bio_href:string, party:string, district:int>>>"
)

# Member bio page (crawl.py:533-636): h1 name, life line (dob), and
# the 5-column service table (Sessions/Office/Position/District/Party).
BIO_PAGE_SCHEMA = (
    "struct<member_id:bigint, chamber:int, error:string, name_s:string, "
    "life_s:string, rows:array<struct<sessions_s:string, office:string, "
    "district_s:string, party:string>>>"
)


def http_page_source(
    user_agent: str = "palegislature_spark",
    timeout: float = 30.0,
    retries: int = 3,
    backoff: float = 0.5,
    session_factory=None,
):
    """Production page source: requests GET with retry + backoff.

    Returns a per-partition fetcher (urls -> [(url, payload)]) for
    :func:`fetch_pages`; one ``requests.Session`` is built lazily per
    fetch batch (i.e. per partition, executor-side), mirroring the
    reference's per-run session (``crawl.py:34-47``).  Transient
    failures retry with exponential backoff; after ``retries``
    attempts the error propagates so Spark task retry takes over.

    The HTTP mechanics (headers, retry loop, status raise) are real
    and covered by tests through ``session_factory`` injection — only
    the socket needs a network, so the path ships dormant in offline
    environments instead of as a stub.
    """

    def fetch(urls: list[str]) -> list[tuple[str, str]]:
        import time

        if session_factory is not None:
            session = session_factory()
        else:  # pragma: no cover — needs a network
            import requests

            session = requests.Session()
        session.headers.update({"User-Agent": user_agent})
        out = []
        for url in urls:
            last_err = None
            for attempt in range(retries):
                try:
                    resp = session.get(url, timeout=timeout)
                    resp.raise_for_status()
                    out.append((url, resp.text))
                    last_err = None
                    break
                except Exception as e:  # noqa: BLE001 — retry any transport error
                    last_err = e
                    if attempt + 1 < retries:
                        time.sleep(backoff * (2**attempt))
            if last_err is not None:
                raise last_err
        return out

    return fetch


def stored_page_source(pages: dict[str, str]):
    """Page source over stored payloads — the S2 cache shape
    (``crawl.py:34-47`` ``.cached_html``) and the test double for the
    HTTP fetcher. Returned closure pickles by value, so it ships to
    executors regardless of module path."""

    def fetch(urls: list[str]) -> list[tuple[str, str]]:
        return [(u, pages[u]) for u in urls]

    return fetch


def fetch_pages(
    urls: DataFrame,
    page_source: Callable[[list[str]], list[tuple[str, str]]],
    url_col: str = "url",
) -> DataFrame:
    """Partition-parallel fetch through an injected page source.

    ``page_source`` receives a batch of URLs and returns (url,
    payload) pairs; it runs on executors inside the Arrow kernel seam
    (``operators/kernels.py``), so it must be picklable and
    self-contained (build sessions lazily).  One fetch timestamp per
    task.
    """

    def task_now():
        import datetime as dt

        return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def batch(pdf, now):
        fetched = page_source(list(pdf[url_col]))
        return {
            "url": [u for u, _ in fetched],
            "payload": [p for _, p in fetched],
            "fetched_at": [now] * len(fetched),
        }

    return map_batches(urls, (url_col,), FETCH_SCHEMA, batch, setup=task_now)


def parse_session_pages(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Session-page payloads -> (sessions rows, session_days rows).

    The UDTF shape (``crawl.py:73-113``): one page yields many rows.
    JSON payloads parse entirely JVM-side: from_json -> explode.
    Sessions: option code "YYYYI" -> (year, session_index) with the
    option text as the display name. Days: month name + day-of-month
    against the page's selected session year.
    """
    parsed = pages.select(
        "url",
        "fetched_at",
        F.from_json("payload", SESSION_PAGE_SCHEMA).alias("p"),
    )
    sessions = parsed.select(
        F.col("p.chamber").alias("chamber"),
        F.explode("p.sessions").alias("s"),
        "fetched_at",
    ).select(
        "chamber",
        F.substring("s.code", 1, 4).cast("int").alias("year"),
        F.substring("s.code", 5, 1).cast("int").alias("session_index"),
        F.col("s.name").alias("name"),
        F.col("fetched_at").alias("last_crawl"),
    )
    selected = parsed.select(
        "url",
        "fetched_at",
        F.col("p.chamber").alias("chamber"),
        F.filter("p.sessions", lambda s: s["selected"]).alias("sel"),
        F.col("p.days").alias("days"),
    ).select(
        "url",
        "fetched_at",
        "chamber",
        F.substring(F.element_at("sel", 1)["code"], 1, 4).cast("int").alias("year"),
        F.substring(F.element_at("sel", 1)["code"], 5, 1).cast("int").alias("session_index"),
        "days",
    )
    days = selected.select(
        "chamber",
        "year",
        "session_index",
        F.explode("days").alias("d"),
        "fetched_at",
    ).select(
        "chamber",
        "year",
        "session_index",
        F.make_date(
            F.col("year"),
            F.month(
                F.try_to_timestamp(
                    F.concat(F.col("d.month"), F.lit(" 1 2000")),
                    F.lit("MMMM d yyyy"),
                )
            ),
            F.col("d.day"),
        ).alias("date"),
        F.col("fetched_at").alias("last_crawl"),
    )
    return sessions, days


def parse_day_pages(pages: DataFrame) -> DataFrame:
    """Floor-votes pages -> roll_calls rows (``crawl.py:150-169``).

    Chamber decodes from the link's rc_body letter (H/S); stamp stays
    NULL until the roll's own page is crawled (stage 3).
    """
    from palegislature_spark.functions.codecs import chamber_from_letter

    parsed = pages.select("fetched_at", F.from_json("payload", DAY_PAGE_SCHEMA).alias("p"))
    return parsed.select(
        F.col("p.day_id").alias("day_id"),
        F.explode("p.rolls").alias("r"),
        "fetched_at",
    ).select(
        "day_id",
        F.col("r.sess_yr").alias("session_year"),
        F.col("r.sess_ind").alias("session_index"),
        chamber_from_letter(F.col("r.rc_body")).alias("chamber"),
        F.col("r.rc_nbr").alias("number"),
        F.col("r.name").alias("name"),
        F.col("fetched_at").alias("last_crawl"),
    )


def parse_roll_pages(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Roll pages -> (votes rows, roll stamps) (``crawl.py:172-220``).

    Letter votes decode through the Y/N/X/E codec; the stamp parses
    from the page's date+time strings and is NULL when the time
    section is missing (the reference's ``len(info_sections) == 3``
    gate — ``crawl.py:212-218``).
    """
    from palegislature_spark.functions.codecs import vote_from_letter

    parsed = pages.select("fetched_at", F.from_json("payload", ROLL_PAGE_SCHEMA).alias("p"))
    votes = parsed.select(
        F.col("p.session_id").alias("session_id"),
        F.col("p.roll_id").alias("roll_id"),
        F.explode("p.votes").alias("v"),
    ).select(
        "session_id",
        "roll_id",
        F.col("v.name").alias("name"),
        vote_from_letter(F.col("v.vote")).alias("vote"),
        F.lit(None).cast("long").alias("member_id"),
    )
    stamps = parsed.select(
        F.col("p.roll_id").alias("id"),
        F.when(
            F.col("p.time_s").isNotNull(),
            F.try_to_timestamp(
                F.concat_ws(" ", "p.date_s", "p.time_s"),
                F.lit("MM/dd/yyyy h:mm a"),
            ),
        ).alias("stamp"),
        F.col("fetched_at").alias("last_crawl"),
    )
    return votes, stamps


# --------------------------------------------------------------------------
# Stage 4: member lists (crawl.py:302-330, 378-506)
# --------------------------------------------------------------------------


def parse_member_list_pages(pages: DataFrame) -> DataFrame:
    """Historical member-list pages -> member observations keyed by
    (chamber, archive_id) (``crawl.py:302-321``): one link per member,
    the ID query param is the chamber's archive id, the link text
    parses through ``get_name_dict``."""
    from palegislature_spark.functions.names import get_name_struct

    parsed = pages.select(
        "fetched_at", F.from_json("payload", MEMBER_LIST_SCHEMA).alias("p")
    )
    return (
        parsed.select(
            F.col("p.chamber").alias("chamber"),
            F.explode("p.members").alias("m"),
            "fetched_at",
        )
        .select(
            "chamber",
            F.col("m.archive_id").alias("archive_id"),
            get_name_struct(F.col("m.full_name")).alias("name"),
            F.col("fetched_at").alias("last_crawl"),
        )
    )


def parse_current_roll_pages(
    pages: DataFrame, resolutions: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Current/per-year member-list pages -> (member_crawl rows,
    member+service observations) (``crawl.py:378-506``).

    member_crawl bookkeeping: one row per SessYear dropdown option,
    named "<value> <CHAMBER>" (``crawl.py:397-398``). Observations:
    one row per member wrapper with the current_id, parsed name,
    party (letter -> full name; unknown letters stay NULL for the
    validation stage — the reference raises), district, and the
    selected year range expanded to a ``years`` array
    (``crawl.py:402,501-503``).

    ``resolutions`` is the redirect-resolution dim (F9 —
    ``sources/redirects.py``): (url, resolved) rows mapping a bio
    href to its archive destination; a resolved archives URL's ID
    param becomes the archive_id (``crawl.py:419-431``). Pass None
    when no resolution map is available (archive_id stays NULL, as
    the reference's no-archive branch ``crawl.py:436-438``).
    """
    from palegislature_spark.functions.codecs import party_name

    parsed = pages.select(
        "url", "fetched_at", F.from_json("payload", CURRENT_ROLL_SCHEMA).alias("p")
    )
    chamber_name = F.when(F.col("p.chamber") == 1, "HOUSE").otherwise("SENATE")
    member_crawl = parsed.select(
        F.col("p.chamber").alias("chamber"),
        F.explode("p.session_year_options").alias("opt"),
        chamber_name.alias("chamber_name"),
        "fetched_at",
    ).select(
        F.concat_ws(" ", "opt", "chamber_name").alias("name"),
        F.col("fetched_at").alias("last_crawl"),
    )

    from palegislature_spark.functions.names import get_name_struct
    from palegislature_spark.functions.temporal import year_range_expand

    obs = parsed.select(
        F.col("p.chamber").alias("chamber"),
        year_range_expand(F.col("p.year_range_s")).alias("years"),
        F.explode("p.members").alias("m"),
        "fetched_at",
    ).select(
        "chamber",
        F.col("m.current_id").alias("current_id"),
        get_name_struct(F.col("m.full_name")).alias("name"),
        F.col("m.bio_href").alias("bio_href"),
        party_name(F.col("m.party")).alias("party"),
        F.col("m.district").alias("district"),
        "years",
        F.col("fetched_at").alias("last_crawl"),
    )

    if resolutions is not None:
        res = F.broadcast(
            resolutions.select(
                F.col("url").alias("bio_href"), F.col("resolved").alias("__resolved")
            )
        )
        obs = obs.join(res, "bio_href", "left").withColumn(
            "archive_id",
            F.when(
                F.col("__resolved").contains("archives"),
                F.regexp_extract("__resolved", r"[?&]ID=(\d+)", 1).try_cast("long"),
            ),
        ).drop("__resolved")
    else:
        obs = obs.withColumn("archive_id", F.lit(None).cast("long"))
    return member_crawl, obs


# --------------------------------------------------------------------------
# Stage 5: bios (crawl.py:533-636)
# --------------------------------------------------------------------------


def parse_bio_pages(
    pages: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bio pages -> (service observations, member updates, violations)
    (``crawl.py:533-636``).

    Service rows come from the 5-column Sessions/Office/Position/
    District/Party table: 'Chief Clerk' rows are skipped
    (``crawl.py:598-599``); a non-empty office other than a House
    'Representative' is a violation row (the reference exits at
    ``:600-602``); 'N/A'/''/unparseable districts are NULL
    (``:604-611``); empty party is NULL; the Sessions year range
    expands to one row per year (``:620-630``). Member updates carry
    the dob parsed from the "m/d/yyyy - ..." life line
    (``:577-581``) and the page's parsed h1 name for the Q1 identity
    check (``:585``). Error pages (``Message-Error``) produce nothing.
    """
    from palegislature_spark.functions.names import get_name_struct
    from palegislature_spark.functions.temporal import parse_dob, year_range_expand

    parsed = pages.select(
        "fetched_at", F.from_json("payload", BIO_PAGE_SCHEMA).alias("p")
    ).filter(F.col("p.error").isNull())

    rows = parsed.select(
        F.col("p.member_id").alias("member_id"),
        F.col("p.chamber").alias("chamber"),
        F.explode("p.rows").alias("r"),
    ).filter(F.col("r.office").isNull() | (F.col("r.office") != "Chief Clerk"))

    office_ok = F.col("r.office").isNull() | (
        (F.col("r.office") == "Representative") & (F.col("chamber") == 1)
    )
    violations = rows.filter(~office_ok).select(
        "member_id",
        "chamber",
        F.col("r.office").alias("office"),
        F.lit("weird office").alias("violation"),
    )

    service = (
        rows.filter(office_ok)
        .select(
            "member_id",
            "chamber",
            F.explode(year_range_expand(F.col("r.sessions_s"))).alias("year"),
            F.col("r.district_s").try_cast("int").alias("district"),
            F.col("r.party").alias("party"),
        )
        .select("member_id", "year", "chamber", "district", "party")
    )

    member_updates = parsed.select(
        F.col("p.member_id").alias("id"),
        F.when(
            F.col("p.life_s").contains("-"), parse_dob(F.col("p.life_s"))
        ).alias("dob"),
        get_name_struct(F.col("p.name_s")).alias("name"),
        F.col("fetched_at").alias("last_crawl"),
    )
    return service, member_updates, violations
