"""Seeded input generators and pure-Python expected values.

Every input the benchmark hands to the engine is generated here from the
``--seed`` argument during set-up; the engine never sees the seed.  The
same seed gives byte-identical inputs.

- ``write_crawl``: Common-Crawl-style pages shaped like
  ``extraction.synth.synth_pages`` (same html wrapping, so extraction is
  byte-faithful), but with words drawn by a seeded generator, plus a
  share of mirror urls serving byte-identical html.
- ``write_sameas_dump``: an N-Triples dump of ``kg:sameAs`` chains with
  Pareto-distributed component sizes and page -> entity ``kg:mentions``
  edges, with ``expected_closure`` computing its closed-fact count by
  union-find.
- ``LiveScript``: the seed graph and the fixed op script of the
  ``live_maintain`` workload.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from inferdf_rs_spark.extraction import synth
from inferdf_rs_spark.pipelines.webkg import KG

PAGE_URL = "https://example.org/page/"
MIRROR_URL = "https://mirror.example.net/"
ENTITY = "https://example.org/e/"
SAMEAS = KG + "sameAs"
MENTIONS = KG + "mentions"
WORDS_PER_PAGE = 150
_ALIASES = sorted({a for a, _, _ in synth.ALIAS_ROWS})
_EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def page_url(i: int) -> str:
    return f"{PAGE_URL}{i}"


def page(seed: int, i: int) -> tuple:
    """Page ``i``: every 8th word an alias mention, the rest filler, drawn
    by a generator seeded with (seed, i).  The html is the
    ``synth_pages`` wrapping; its title carries ``i``, so pages with
    distinct ids have distinct html."""
    rng = random.Random(f"{seed}:{i}")
    n_alias = len(range(0, WORDS_PER_PAGE, 8))
    aliases = iter(rng.choices(_ALIASES, k=n_alias))
    filler = iter(rng.choices(synth.FILLER, k=WORDS_PER_PAGE - n_alias))
    words = [next(aliases) if k % 8 == 0 else next(filler) for k in range(WORDS_PER_PAGE)]
    text = " ".join(words) + " & more"
    html = (
        f"<html><head><title>page {i}</title></head><body><p>{text.replace('&', '&amp;')}"
        "</p><script>var x=1;</script></body></html>"
    )
    ts = _EPOCH + datetime.timedelta(seconds=i)
    return page_url(i), ts, html.encode(), text, rng.choice(synth.LANGS)


def write_pages(path: str, rows: list[tuple], files: int = 8) -> None:
    """Write page rows as ``files`` parquet files (so Spark reads them
    as that many parallel splits, on any machine)."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    for f in range(files):
        table = pa.table(
            {
                "url": pa.array(cols[0][f::files], pa.string()),
                "warc_ts": pa.array(cols[1][f::files], pa.timestamp("us", tz="UTC")),
                "html": pa.array(cols[2][f::files], pa.binary()),
                "text": pa.array(cols[3][f::files], pa.string()),
                "lang": pa.array(cols[4][f::files], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def write_crawl(path: str, seed: int, n: int, mirror_share: float) -> int:
    """The crawl input: pages ``0 .. n-1`` plus ``round(mirror_share * n)``
    mirrors, each a copy of a seeded-random original under its own
    mirror url (byte-identical html).  Returns the number of distinct
    html bodies (the originals), which exact dedup must keep."""
    rows = [page(seed, i) for i in range(n)]
    rng = random.Random(f"{seed}:mirrors")
    for j in range(round(mirror_share * n)):
        orig = rng.randrange(n)
        rows.append((f"{MIRROR_URL}{j}/page/{orig}",) + rows[orig][1:])
    rng.shuffle(rows)
    write_pages(path, rows)
    return n


# ------------------------------------------------------------------ dump


@dataclass
class Dump:
    lines: int
    pages: int
    expected_facts: int


def write_sameas_dump(path: str, seed: int, components: int, max_size: int, pages: int, alpha: float = 1.2) -> Dump:
    """N-Triples dump: ``components`` sameAs chains and ``pages`` pages
    that each mention 2 entities picked uniformly over all entities (so
    long chains collect the most mentions).  Chain sizes follow a
    Pareto(alpha) law capped at ``max_size`` (hub skew: a few long
    chains, many short ones); they are its stratified quantiles, so
    every seed gets the same size multiset and the same closure depth,
    and the seed only shuffles which entity sits where.  Written as 4
    text files."""
    rng = random.Random(seed)
    sizes = [min(max_size, int(2 * (1 - (c + 0.5) / components) ** (-1 / alpha))) for c in range(components)]
    rng.shuffle(sizes)
    lines: list[str] = []
    entities: list[str] = []
    for c, k in enumerate(sizes):
        chain = [f"{ENTITY}{c}_{j}" for j in range(k)]
        rng.shuffle(chain)
        entities += chain
        lines += [f"<{a}> <{SAMEAS}> <{b}> ." for a, b in zip(chain, chain[1:])]
    for p in range(pages):
        for e in rng.sample(entities, 2):
            lines.append(f"<{PAGE_URL}{p}> <{MENTIONS}> <{e}> .")
    rng.shuffle(lines)
    os.makedirs(path, exist_ok=True)
    for part in range(4):
        with open(os.path.join(path, f"part-{part}.nt"), "w") as f:
            f.write("\n".join(lines[part::4]) + "\n")
    return Dump(len(lines), pages, expected_closure(lines))


def expected_closure(lines: list[str]) -> int:
    """Closed-fact count of a sameAs + mentions dump under
    ``web_rules()``, by union-find: a sameAs component of k entities
    closes to k*k sameAs facts (symmetric, transitive, hence reflexive),
    and a page mentioning any entity of a component mentions all of it.
    Entities in no sameAs fact keep their stated mentions only."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    mentions: list[tuple[str, str]] = []
    for line in lines:
        s, p, o = (t[1:-1] for t in line.split(" ")[:3])
        if p == SAMEAS:
            for t in (s, o):
                parent.setdefault(t, t)
            ra, rb = find(s), find(o)
            if ra != rb:
                parent[ra] = rb
        else:
            mentions.append((s, o))
    size: dict[str, int] = {}
    for t in parent:
        r = find(t)
        size[r] = size.get(r, 0) + 1
    total = sum(k * k for k in size.values())
    seen: dict[str, set] = {}
    for page, ent in mentions:
        seen.setdefault(page, set()).add(find(ent) if ent in parent else ("=", ent))
    for comps in seen.values():
        total += sum(size[c] if isinstance(c, str) else 1 for c in comps)
    return total


# ------------------------------------------------------------------ live


@dataclass
class LiveScript:
    """Seed pages ``0 .. seed_pages-1``; step t adds the ``add_pages``
    pages after the seed and earlier batches, and retracts the mention
    edges of the ``retract_pages`` oldest seed pages not yet retracted
    (a sliding window: pages arrive and leave)."""

    seed: int
    seed_pages: int
    add_pages: int
    retract_pages: int
    steps: int

    def add_range(self, t: int) -> tuple[int, int]:
        start = self.seed_pages + t * self.add_pages
        return start, start + self.add_pages

    def retract_range(self, t: int) -> tuple[int, int]:
        return t * self.retract_pages, (t + 1) * self.retract_pages

    def write(self, root: str) -> None:
        write_pages(os.path.join(root, "seed_pages"), [page(self.seed, i) for i in range(self.seed_pages)])
        for t in range(self.steps):
            lo, hi = self.add_range(t)
            write_pages(os.path.join(root, "add_pages", f"step={t}"), [page(self.seed, i) for i in range(lo, hi)], 2)
