"""Seeded input generator for the `etl_daily` workload.

`etl_snapshots` makes one raw NS disruptions snapshot per day (a JSON
array shaped like the NS `disruptions` endpoint payload the pipeline
extracts). It is a pure function of its seed: the same seed gives
byte-identical snapshots.
"""
import json
import os
import random
from datetime import datetime, timedelta, timezone

# The pipeline's clock for day 0; day d runs at DAY0 + d days.
DAY0 = datetime(2026, 2, 14, 6, 0, 0, tzinfo=timezone.utc)
RECORDS_PER_DAY = 125

STATIONS = [
    ("ASD", "Amsterdam Centraal", 52.3791, 4.9003, "8400058"),
    ("UTR", "Utrecht Centraal", 52.0894, 5.1101, "8400621"),
    ("RTD", "Rotterdam Centraal", 51.9249, 4.4690, "8400530"),
    ("EHV", "Eindhoven Centraal", 51.4433, 5.4814, "8400206"),
    ("GVC", "Den Haag Centraal", 52.0808, 4.3247, "8400282"),
    ("LEDN", "Leiden Centraal", 52.1664, 4.4817, "8400390"),
    ("AMF", "Amersfoort Centraal", 52.1533, 5.3733, "8400055"),
    ("ZL", "Zwolle", 52.5047, 6.0906, "8400747"),
]
TYPES = [("MAINTENANCE", 0.90), ("DISRUPTION", 0.07), ("CALAMITY", 0.03)]
CAUSES = ["werkzaamheden", "defecte trein", "seinstoring", "aanrijding",
          "weersomstandigheden", "stroomstoring"]
# Share of a day's records that re-send an id from an earlier day with
# a later version (exercises the silver upsert), and shares of records
# with a missing `end` or a malformed `start`.
RESEND_SHARE = 0.3
NO_END_SHARE = 0.1
BAD_TS_SHARE = 0.03


def _ns_ts(dt):
    """NS timestamp format: offset without a colon, e.g. +0100."""
    return dt.astimezone(timezone(timedelta(hours=1))).strftime(
        "%Y-%m-%dT%H:%M:%S%z")


def _record(rng, rid, day_clock):
    typ = rng.choices([t for t, _ in TYPES], [w for _, w in TYPES])[0]
    start = day_clock - timedelta(hours=rng.randint(0, 72),
                                  minutes=rng.randint(0, 59))
    end = start + timedelta(minutes=rng.randint(10, 60 * 48))
    stations = rng.sample(STATIONS, rng.randint(1, 3))
    rec = {
        "id": rid,
        "type": typ,
        "title": f"{rng.choice(CAUSES).capitalize()} "
                 f"{stations[0][1]} - {stations[-1][1]}",
        "description": f"Tussen {stations[0][1]} en {stations[-1][1]} "
                       f"rijden minder treinen.",
        "start": _ns_ts(start),
        "end": _ns_ts(end),
        "isActive": rng.random() < 0.8,
        "local": rng.random() < 0.3,
        "priority": f"PRIO_{rng.randint(1, 3)}",
        "lastUpdated": _ns_ts(day_clock - timedelta(minutes=rng.randint(0, 600))),
        "phase": {"id": str(rng.randint(1, 4)), "label": "Fase"},
        "impact": {"value": rng.randint(1, 5)},
        "publicationSections": [{
            "sectionType": "ONGOING",
            "section": {
                "direction": rng.choice(["ONE", "BOTH"]),
                "stations": [{
                    "coordinate": {"lat": lat, "lng": lng},
                    "countryCode": "NL", "name": name,
                    "stationCode": code, "uicCode": uic,
                } for code, name, lat, lng, uic in stations],
            },
        }],
        "timespans": [{
            "start": _ns_ts(start), "end": _ns_ts(end),
            "situation": {"label": "Minder treinen"},
            "cause": {"label": rng.choice(CAUSES)},
            "advices": ["Plan uw reis opnieuw"],
        }],
    }
    if typ == "CALAMITY" or rng.random() < NO_END_SHARE:
        del rec["end"]
    if rng.random() < BAD_TS_SHARE:
        rec["start"] = rng.choice(["2026-13-45T99:00:00+0100", "unknown", ""])
    return rec


def _new_id(rng):
    kind = rng.random()
    if kind < 0.6:
        return str(rng.randint(6_000_000, 6_999_999))
    if kind < 0.8:
        return f"prio-{rng.randint(10_000, 99_999)}"
    return "%08x-%04x-%04x-%04x-%012x" % (
        rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
        rng.getrandbits(16), rng.getrandbits(48))


def day_clock(day):
    return DAY0 + timedelta(days=day)


def etl_snapshots(seed, days):
    """Returns (snapshots, ids): one JSON-array snapshot (bytes) per
    day and, per day, the set of ids the pipeline has seen through that
    day (the expected silver and bronze keys)."""
    rng = random.Random(seed)
    seen, snaps, ids_through = [], [], []
    seen_set = set()
    for day in range(days):
        clock = day_clock(day)
        n_resend = int(RECORDS_PER_DAY * RESEND_SHARE) if seen else 0
        resent = rng.sample(seen, min(n_resend, len(seen)))
        batch_ids = list(resent)
        while len(batch_ids) < RECORDS_PER_DAY:
            rid = _new_id(rng)
            if rid not in seen_set and rid not in batch_ids:
                batch_ids.append(rid)
        records = [_record(rng, rid, clock) for rid in batch_ids]
        for rid in batch_ids:
            if rid not in seen_set:
                seen_set.add(rid)
                seen.append(rid)
        snaps.append(json.dumps(records, indent=2, ensure_ascii=False)
                     .encode("utf-8"))
        ids_through.append(frozenset(seen_set))
    return snaps, ids_through


def write_etl_inputs(seed, days, out_dir):
    """Writes day_<d>.json snapshots under out_dir; returns, per day,
    the snapshot path, the pipeline clock and the distinct ids so far."""
    snaps, ids_through = etl_snapshots(seed, days)
    os.makedirs(out_dir, exist_ok=True)
    days_meta = []
    for d, blob in enumerate(snaps):
        path = os.path.join(out_dir, f"day_{d:03d}.json")
        with open(path, "wb") as f:
            f.write(blob)
        days_meta.append({
            "path": path,
            "clock": day_clock(d).strftime("%Y-%m-%dT%H:%M:%SZ"),
            "distinct_ids": len(ids_through[d]),
        })
    return days_meta

