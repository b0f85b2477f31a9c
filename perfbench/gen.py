"""Seeded SIRI-SM input generator for the graft benchmark.

Simulates a bus fleet minute by minute and writes what the reference
requester lands: one SIRI-SM stop-monitoring document per minute.

  backlog tree:  <out>/raw/YYYY/MM/DD/HH/MM.br  (brotli, quality 9)
  warm-up tree:  <out>/warm/YYYY/MM/DD/HH/MM.br  (two minutes)
  daemon feed:   <out>/feed/NNNNNN.json          (json-lines: snapshot_id + json)

Rides run for many minutes, so route, stop, ride and ride-stop keys
repeat across snapshots; a fixed share of visits miss a required field
(parse errors) and one document per tree is truncated (unparseable).
`expected.json` holds the row counts the star schema must end up with
and the input properties a result may depend on.

Run with a Python that has `brotlicffi`:

  python3 perfbench/gen.py <outDir> <seed> <feedSnapshots>
"""
import json
import os
import random
import sys

import brotlicffi

BROTLI_QUALITY = 9
MALFORMED_SHARE = 0.005
BACKLOG_MINUTES = 8
FLEET = 2000
# the daemon feed carries this share of the fleet's rides per snapshot
FEED_SHARE = 0.2
N_OPERATORS = 20
N_LINES = 300
N_STOPS = 12000
BASE_MINUTE = 6 * 60  # 2023-03-10 06:00


def snapshot_id(minute):
    day, rest = divmod(BASE_MINUTE + minute, 1440)
    hh, mm = divmod(rest, 60)
    return f"2023/03/{10 + day:02d}/{hh:02d}/{mm:02d}"


class Fleet:
    """Active rides; each minute every ride reports one visit and may
    advance to its next stop, finished rides are replaced by new ones."""

    def __init__(self, rng, size):
        self.rng = rng
        self.next_journey = 100000
        self.lines = {}
        self.rides = [self.new_ride(slot) for slot in range(size)]

    def line_stops(self, line_key):
        if line_key not in self.lines:
            r = random.Random(f"line:{line_key[0]}:{line_key[1]}")
            self.lines[line_key] = [30000 + r.randrange(N_STOPS) for _ in range(r.randint(25, 60))]
        return self.lines[line_key]

    def new_ride(self, slot):
        rng = self.rng
        op = 1 + rng.randrange(N_OPERATORS)
        line = 1 + rng.randrange(N_LINES)
        stops = self.line_stops((op, line))
        self.next_journey += 1
        start_h, start_m = divmod(300 + rng.randrange(600), 60)
        return {
            "slot": slot, "op": op, "line": line, "stops": stops,
            "journey": self.next_journey,
            "vehicle": f"{rng.randrange(1000, 99999)}",
            "start": f"2023-03-10T{start_h:02d}:{start_m:02d}:00+02:00",
            "order": 1 + rng.randrange(len(stops) // 2),
            "bearing": rng.randrange(360),
        }

    def step(self):
        for i, ride in enumerate(self.rides):
            if self.rng.random() < 0.5:
                ride["order"] += 1
            if ride["order"] > len(ride["stops"]):
                self.rides[i] = self.new_ride(ride["slot"])


def visit_json(ride, minute, rng, malformed):
    day, rest = divmod(BASE_MINUTE + minute, 1440)
    hh, mm = divmod(rest, 60)
    recorded = f"2023-03-{10 + day:02d}T{hh:02d}:{mm:02d}:{rng.randrange(60):02d}+02:00"
    # slot-spaced longitude keeps the validation location key unique
    lon = f"{34.0 + ride['slot'] * 0.0001 + rng.random() * 0.00009:.6f}"
    lat = f"{31.5 + rng.random() * 0.8:.6f}"
    call = {"StopPointRef": str(ride["stops"][ride["order"] - 1]),
            "Order": str(ride["order"]), "DistanceFromStop": str(rng.randrange(5000))}
    mvj = {
        "LineRef": str(ride["line"]), "OperatorRef": str(ride["op"]),
        "FramedVehicleJourneyRef": {"DataFrameRef": "2023-03-10",
                                    "DatedVehicleJourneyRef": str(ride["journey"])},
        "OriginAimedDepartureTime": ride["start"],
        "VehicleRef": ride["vehicle"], "Bearing": str(ride["bearing"]),
        "Velocity": str(rng.randrange(80)),
        "VehicleLocation": {"Longitude": lon, "Latitude": lat},
        "MonitoredCall": call,
    }
    if malformed:
        # a missing required field diverts the visit to parse errors
        kind = rng.randrange(3)
        if kind == 0:
            del call["StopPointRef"]
        elif kind == 1:
            del mvj["LineRef"]
        else:
            del mvj["FramedVehicleJourneyRef"]["DatedVehicleJourneyRef"]
    return {"RecordedAtTime": recorded, "MonitoredVehicleJourney": mvj}


class Tally:
    """Counts the star schema must hold, plus repeat shares."""

    def __init__(self):
        self.visits = self.ok = self.failed = self.docs = self.bad_docs = 0
        self.keys = {"routes": set(), "stops": set(), "rides": set(), "ride_stops": set()}
        self.seen_hits = 0
        self.seen_total = 0
        self.json_bytes = self.stored_bytes = 0

    def add(self, ride, malformed):
        self.visits += 1
        if malformed:
            self.failed += 1
            return
        self.ok += 1
        ride_key = (ride["op"], ride["line"], ride["journey"], ride["vehicle"])
        stop = ride["stops"][ride["order"] - 1]
        ks = {"routes": (ride["op"], ride["line"]), "stops": stop,
              "rides": ride_key, "ride_stops": ride_key + (stop, ride["order"])}
        for name, k in ks.items():
            self.seen_total += 1
            if k in self.keys[name]:
                self.seen_hits += 1
            self.keys[name].add(k)

    def expected(self):
        return {
            "snapshots": self.docs, "visits": self.visits,
            "facts": self.ok, "parse_errors": self.failed + self.bad_docs,
            "error_snapshots": self.bad_docs,
            **{k: len(v) for k, v in self.keys.items()},
        }


def snapshot_doc(fleet, tally, minute, rng, broken, share=1.0):
    rides = fleet.rides[: int(len(fleet.rides) * share)]
    flags = [rng.random() < MALFORMED_SHARE for _ in rides]
    visits = [visit_json(ride, minute, rng, bad) for ride, bad in zip(rides, flags)]
    stamp = visits[0]["RecordedAtTime"]
    text = json.dumps({"Siri": {"ServiceDelivery": {
        "ResponseTimestamp": stamp, "ProducerRef": "bench",
        "StopMonitoringDelivery": [{"ResponseTimestamp": stamp, "Status": "true",
                                    "MonitoredStopVisit": visits}]}}}, separators=(",", ":"))
    tally.docs += 1
    if broken:
        # truncated mid-document: from_json yields no delivery, so the
        # whole snapshot is one failed visit and an error status row
        tally.bad_docs += 1
        text = text[: len(text) // 3]
    else:
        for ride, bad in zip(rides, flags):
            tally.add(ride, bad)
    return text


def write_br_tree(root, minutes, docs, tally):
    for minute, text in zip(minutes, docs):
        path = os.path.join(root, snapshot_id(minute) + ".br")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        raw = text.encode("utf-8")
        packed = brotlicffi.compress(raw, quality=BROTLI_QUALITY)
        with open(path, "wb") as f:
            f.write(packed)
        tally.json_bytes += len(raw)
        tally.stored_bytes += len(packed)


def main():
    out, seed, feed_n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    rng = random.Random(f"siri:{seed}")
    minutes = BACKLOG_MINUTES
    # the volume is fixed; the seed varies routes, rides, stops and values
    per = FLEET
    fleet = Fleet(rng, per)

    # warm-up tree: two full-size minutes on a separate fleet and day
    warm_tally = Tally()
    warm_fleet = Fleet(random.Random(f"warm:{seed}"), FLEET)
    warm_docs = []
    for m in range(2):
        warm_docs.append(snapshot_doc(warm_fleet, warm_tally, 2880 + m, rng, False))
        warm_fleet.step()
    write_br_tree(os.path.join(out, "warm"), [2880, 2881], warm_docs, warm_tally)

    tally = Tally()
    broken_at = 1 + rng.randrange(minutes - 1)
    docs = []
    for m in range(minutes):
        docs.append(snapshot_doc(fleet, tally, m, rng, m == broken_at))
        fleet.step()
    write_br_tree(os.path.join(out, "raw"), range(minutes), docs, tally)
    backlog = tally.expected()
    backlog_bytes = {"compressed_bytes": tally.stored_bytes, "decoded_bytes": tally.json_bytes}
    backlog_repeat = tally.seen_hits / max(1, tally.seen_total)

    feed = {}
    if feed_n > 0:
        # the daemon feed continues the same fleet past the backlog,
        # so most of its dimension keys are already in the star
        before = (tally.seen_hits, tally.seen_total)
        feed_dir = os.path.join(out, "feed")
        os.makedirs(feed_dir, exist_ok=True)
        broken_feed = 1 + rng.randrange(feed_n - 1)
        feed_bytes = 0
        for i in range(feed_n):
            m = minutes + i
            text = snapshot_doc(fleet, tally, m, rng, i == broken_feed, FEED_SHARE)
            fleet.step()
            line = json.dumps({"snapshot_id": snapshot_id(m), "json": text}) + "\n"
            feed_bytes += len(text)
            with open(os.path.join(feed_dir, f"{i:06d}.json"), "w") as f:
                f.write(line)
        hits, total = tally.seen_hits - before[0], tally.seen_total - before[1]
        feed = {"snapshots": feed_n, "decoded_bytes": feed_bytes,
                "visits_per_snapshot": int(per * FEED_SHARE),
                "dim_keys_seen_share": hits / max(1, total),
                "with_backlog": tally.expected()}

    meta = {
        "seed": seed, "visits_per_snapshot": per,
        "malformed_share": MALFORMED_SHARE, "brotli_quality": BROTLI_QUALITY,
        "backlog": {**backlog, **backlog_bytes, "dim_keys_seen_share": backlog_repeat,
                    "parse_failure_share": backlog["parse_errors"] / max(1, backlog["visits"])},
        "warm": warm_tally.expected(),
        "feed": feed,
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
