"""One day of the reference's events chain, with the benchmark's fakes.

``EtlDay.run(day)`` feeds a freshly generated day through
``process_events`` into a warehouse that persists from day to day, then
geocodes the day's events with ``http_enrich`` through a fake geocoder, as
``validation_retreatment`` does for associations. The fakes are benchmark
code:

- the opener serves the generated CSV bytes and counts them
  (``sources.feed_bytes``);
- the geocoder sleeps ``GEOCODE_LATENCY_S`` per call and fails, on every
  attempt, for the addresses whose CRC-32 is divisible by
  ``GEOCODE_FAIL_EVERY`` (about 1 address in 20). It runs in Python
  workers, so it counts calls, failed calls and busy time in Spark
  accumulators.

The outputs are checked against the facts the generator planted.
"""

from __future__ import annotations

import os
import time
import zlib

import gen

# fake geocoder (stated in BENCHMARK.json): per-call latency, failure share
GEOCODE_LATENCY_S = 0.005
GEOCODE_FAIL_EVERY = 20
# the operator's default retries, with a short backoff: a failing address
# costs 2 x 10 ms of sleep rather than 1.5 s
GEOCODE_RETRIES = 2
GEOCODE_BACKOFF_S = 0.01


def geocoder(fail_every: int = GEOCODE_FAIL_EVERY):
    """The fake geocoder's answer for an address; None for a planted
    failure. A closure, so that it pickles by value into Python workers,
    which cannot import this module."""
    crc32 = zlib.crc32

    def answer(address: str) -> str | None:
        h = crc32(address.encode("utf-8"))
        if h % fail_every == 0:
            return None
        return f"{48.8 + (h % 1000) / 10000:.4f},{2.3 + (h // 1000 % 1000) / 10000:.4f}"

    return answer


def geocode_factory(calls, failed, busy_ms):
    """Transport factory for ``http_enrich``, counting into accumulators."""
    latency, answer = GEOCODE_LATENCY_S, geocoder()

    def factory():
        import threading
        import time as _time

        lock = threading.Lock()

        def call(address: str) -> str:
            t = _time.perf_counter()
            _time.sleep(latency)
            out = answer(address)
            with lock:  # the operator calls from a thread pool
                calls.add(1)
                failed.add(int(out is None))
                busy_ms.add((_time.perf_counter() - t) * 1000.0)
            if out is None:
                raise ConnectionError("fake geocoder: planted failure")
            return out

        return call

    return factory


class EtlDay:
    """The events chain over days that share one warehouse."""

    def __init__(self, r):
        self.r = r
        self.warehouse = os.path.join(r.run_dir, "warehouse")
        sc = r.spark.sparkContext
        self.calls = sc.accumulator(0)
        self.failed = sc.accumulator(0)
        self.busy_ms = sc.accumulator(0.0)

    def run(self, day: int) -> dict:
        """One day. Returns its timed seconds, feed rows, the fakes'
        counters, and the failed checks as messages."""
        from wopen_spark.operators.http_enrich import EnrichConfig, http_enrich
        from wopen_spark.pipelines import EventsConfig, process_events
        from wopen_spark.tables import Table

        r, tr = self.r, self.r.tracer
        spark = r.spark
        feed, facts = gen.events_feed(r.seed, day)
        served = [0]

        def opener(url: str) -> bytes:
            served[0] += len(feed)
            return feed

        create_csv = os.path.join(r.run_dir, f"events-to-create-{day}.csv")
        cfg = EventsConfig(today=gen.EVENTS_TODAY)
        before = (self.calls.value, self.failed.value, self.busy_ms.value)
        events = Table(spark, "crm", "events", self.warehouse)

        t0 = time.perf_counter()
        with tr.span("pipelines.process_events"):
            process_events(spark, "events", self.warehouse, create_csv, config=cfg, opener=opener)
        with tr.span("operators.http_enrich"):
            geocoded = http_enrich(
                events.read().select("Titre", "combined_address"),
                "combined_address",
                geocode_factory(self.calls, self.failed, self.busy_ms),
                out_col="coordinates",
                config=EnrichConfig(sentinel="", retries=GEOCODE_RETRIES,
                                    backoff_s=GEOCODE_BACKOFF_S),
            ).toPandas()
        busy = time.perf_counter() - t0
        counters = {
            "sources.feed_bytes": served[0],
            "operators.http_enrich.calls": self.calls.value - before[0],
            "operators.http_enrich.failed": self.failed.value - before[1],
            "operators.http_enrich.busy_ms": self.busy_ms.value - before[2],
        }

        # --- output checks against the planted facts (untimed)
        problems = []
        table = events.read().select("Titre", "arrondissement").toPandas()
        if sorted(table["Titre"]) != facts["survivors"]:
            problems.append(f"day {day}: events table holds {len(table)} events, "
                            f"expected {len(facts['survivors'])}")
        mapped = sorted(table.loc[table["arrondissement"].notna(), "Titre"])
        if mapped != facts["paris"]:
            problems.append(f"day {day}: {len(mapped)} events map to an arrondissement, "
                            f"expected {len(facts['paris'])}")
        answer = geocoder()
        want = {
            row.Titre: answer(row.combined_address) or ""
            for row in geocoded.itertuples(index=False)
        }
        got = dict(zip(geocoded["Titre"], geocoded["coordinates"]))
        if sorted(got) != facts["survivors"] or got != want:
            problems.append(f"day {day}: geocoded coordinates differ from the fake geocoder's")
        want_failed = sum(1 for v in want.values() if v == "") * (GEOCODE_RETRIES + 1)
        if counters["operators.http_enrich.failed"] != want_failed:
            problems.append(f"day {day}: the geocoder failed "
                            f"{counters['operators.http_enrich.failed']} calls, "
                            f"expected {want_failed}")
        return {
            "busy_s": busy,
            "rows": len(feed.splitlines()) - 1,
            "counters": counters,
            "problems": problems,
        }
