#!/usr/bin/env python3
"""Deterministic Cricsheet archive generator for the pipeline benchmark.

Team, venue, event and dismissal names come from the six fixture
matches in src/test/resources/cricsheet; outcome shapes and omitted
optional fields follow them (the fixture each copies is noted inline);
the field layout is the one model/Cricsheet.schema reads. Nothing is
downloaded.

Usage: gen.py --seed N --out DIR --drops D [--no-json]

Writes under DIR:
  history/<id>.json     HISTORY matches (the published archive)
  archive.zip           the same matches as one Cricsheet-style zip
  drops/NNN/<id>.json   D weekly drops of DROP_SIZE new matches each, dated after
                        every history match
  drops/NNN.zip         each drop as its own zip
  totals.json           the generator's own totals: matches, deliveries
                        and expected version note, cumulatively per drop

The same arguments give byte-identical files.
"""
import argparse
import datetime as dt
import json
import os
import random
import zipfile

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                        "src", "test", "resources", "cricsheet")

# The real archive's span (matchwise_data.csv: 2005-02-17 .. 2025-11-20).
FIRST_DAY = dt.date(2005, 2, 17)
LAST_DAY = dt.date(2025, 11, 20)
ZIP_TIME = (1980, 1, 1, 0, 0, 0)
# A tenth of the 3,037 matches of the shipped matchwise_data.csv, so a run
# holds a cold pass and a window of warm ones (perfbench/README.md).
HISTORY = 300
# aws/constants.py: at most 10 new files per weekly run.
DROP_SIZE = 10
NUMBER_WORDS = ["One", "Two", "Three", "Four", "Five", "Six", "Seven",
                "Eight", "Nine", "Ten", "Eleven"]


def load_vocab():
    """Names and shapes harvested from the fixture matches."""
    teams, venues, events = [], [], []
    wicket_kinds = set()
    for name in sorted(os.listdir(FIXTURES)):
        with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
            m = json.load(f)
        info = m["info"]
        teams.extend(t for t in info["teams"] if t not in teams)
        venues.append((info["venue"], info.get("city")))
        if "event" in info:
            events.append(info["event"]["name"])
        for inn in m.get("innings", []):
            for over in inn["overs"]:
                for d in over["deliveries"]:
                    for w in d.get("wickets", []):
                        wicket_kinds.add(w["kind"])
    if len(teams) < 2 or not venues or not events:
        raise SystemExit(f"fixtures under {FIXTURES} are incomplete")
    return teams, venues, events, sorted(wicket_kinds)


class Generator:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.teams, self.venues, self.events, kinds = load_vocab()
        # fixture kinds plus the dismissals the reference's extractor
        # distinguishes by fielder presence
        self.kinds = sorted(set(kinds) | {"bowled", "caught", "lbw",
                                          "stumped", "run out"})
        self.squads = {t: [f"{t[0]} {w}" for w in NUMBER_WORDS]
                       for t in self.teams}

    def delivery(self, bowling, striker, non_striker, bowler):
        """One ball: returns (json dict, runs, legal, wickets-out list)."""
        r = self.rng.random()
        runs_bat, extras, kind = 0, {}, None
        if r < 0.03:
            extras = {"wides": self.rng.choice([1, 1, 1, 2, 5])}
        elif r < 0.04:
            extras = {"noballs": 1}
            runs_bat = self.rng.choice([0, 1, 4, 6])
        elif r < 0.055:
            extras = {"legbyes": self.rng.choice([1, 1, 2, 4])}
        elif r < 0.06:
            extras = {"byes": self.rng.choice([1, 4])}
        elif r < 0.0605:
            extras = {"penalty": 5}
        elif r < 0.105:
            kind = self.rng.choice(self.kinds)
        else:
            runs_bat = self.rng.choices([0, 1, 2, 3, 4, 6],
                                        [38, 36, 8, 1, 12, 5])[0]
        extra_runs = sum(extras.values())
        d = {"batter": striker, "bowler": bowler, "non_striker": non_striker}
        if extras:
            d["extras"] = extras
        d["runs"] = {"batter": runs_bat, "extras": extra_runs,
                     "total": runs_bat + extra_runs}
        out = []
        if kind is not None:
            fielders = self.squads[bowling]
            w = {"player_out": striker, "kind": kind}
            if kind in ("caught", "stumped"):
                w["fielders"] = [{"name": self.rng.choice(fielders)}]
            elif kind == "run out":
                victim = self.rng.choice([striker, non_striker])
                w["player_out"] = victim
                w["fielders"] = [{"name": n} for n in
                                 self.rng.sample(fielders,
                                                 self.rng.choice([1, 1, 2]))]
            ws = [w]
            out.append(w["player_out"])
            # the rare two-dismissal ball of fixture 1002
            if kind == "run out" and self.rng.random() < 0.05:
                other = non_striker if w["player_out"] == striker else striker
                ws.append({"player_out": other, "kind": "run out",
                           "fielders": [{"name": self.rng.choice(fielders)}]})
                out.append(other)
            d["wickets"] = ws
        legal = not ("wides" in extras or "noballs" in extras)
        return d, runs_bat + extra_runs, legal, out

    def innings(self, batting, bowling, max_overs, target=None):
        squad, attack = self.squads[batting], self.squads[bowling][6:]
        order = list(squad)
        striker, non_striker, nxt = order[0], order[1], 2
        total, wickets, overs = 0, 0, []
        for o in range(max_overs):
            bowler = attack[o % len(attack)]
            balls, legal = [], 0
            while legal < 6:
                d, runs, ok, out = self.delivery(bowling, striker,
                                                 non_striker, bowler)
                balls.append(d)
                total += runs
                legal += ok
                for p in out:
                    wickets += 1
                    if nxt < len(order):
                        if p == striker:
                            striker = order[nxt]
                        else:
                            non_striker = order[nxt]
                        nxt += 1
                if wickets >= 10 or (target is not None and total >= target):
                    break
                if d["runs"]["batter"] % 2 == 1:
                    striker, non_striker = non_striker, striker
            overs.append({"over": o, "deliveries": balls})
            if wickets >= 10 or (target is not None and total >= target):
                break
            striker, non_striker = non_striker, striker
        return {"team": batting, "overs": overs}, total, wickets

    def match(self, day):
        rng = self.rng
        t1, t2 = rng.sample(self.teams, 2)
        venue, city = rng.choice(self.venues)
        if rng.random() < 0.05:
            # a quoted CSV field, as "Brisbane Cricket Ground, Woolloongabba"
            venue = f"{venue}, {city or 'Central'}"
        toss = rng.choice([t1, t2])
        info = {}
        sparse = rng.random() < 0.15  # fixtures 1003/1005 omit these
        if not sparse:
            info["match_type_number"] = rng.randrange(1, 2600)
        dates = [day.isoformat()]
        if rng.random() < 0.02:  # fixture 1004's two-day match
            dates.append((day + dt.timedelta(days=1)).isoformat())
        info["dates"] = dates
        if not sparse:
            info["event"] = {"name": rng.choice(self.events)}
        info["venue"] = venue
        if city is not None and not (sparse and rng.random() < 0.5):
            info["city"] = city
        info["teams"] = [t1, t2]
        info["toss"] = {"winner": toss,
                        "decision": rng.choice(["bat", "field"])}
        first, second = (toss, t2 if toss == t1 else t1) \
            if info["toss"]["decision"] == "bat" \
            else (t2 if toss == t1 else t1, toss)
        r = rng.random()
        innings = []
        if r < 0.03:  # no result: one short innings, as fixtures 1003/1005
            inn, _, _ = self.innings(first, second, rng.randint(1, 12))
            innings = [inn]
            outcome = {"result": "no result"}
        else:
            reduced = r < 0.08  # rain-shortened, decided by D/L (1004)
            overs = rng.randint(6, 17) if reduced else 20
            inn1, s1, _ = self.innings(first, second, overs)
            inn2, s2, w2 = self.innings(second, first, overs, target=s1 + 1)
            innings = [inn1, inn2]
            if s1 == s2:
                # tie settled by a super over (fixture 1006's result)
                so1, a, _ = self.innings(second, first, 1)
                so2, b, _ = self.innings(first, second, 1, target=a + 1)
                so1["super_over"] = so2["super_over"] = True
                innings += [so1, so2]
                outcome = {"result": "tie",
                           "eliminator": second if a > b else first}
            elif s1 > s2:
                outcome = {"winner": first, "by": {"runs": s1 - s2}}
            else:
                outcome = {"winner": second, "by": {"wickets": 10 - w2}}
            if reduced and "winner" in outcome:
                outcome["method"] = "D/L"
        info["outcome"] = outcome
        if not sparse and outcome.get("result") != "no result":
            squad = self.squads[rng.choice([t1, t2])]
            info["player_of_match"] = [rng.choice(squad)]
        m = {}
        if not sparse:
            m["meta"] = {"data_version": "1.0.0",
                         "created": (day + dt.timedelta(days=1)).isoformat(),
                         "revision": rng.randint(1, 3)}
        m["info"] = info
        m["innings"] = innings
        return m


def deliveries(m):
    return sum(len(o["deliveries"]) for i in m["innings"] for o in i["overs"])


def note(latest):
    day = dt.date.fromisoformat(latest[2])
    return (f"Updated till the match between {latest[3]} and {latest[4]} "
            f"on {day.strftime('%d/%m/%Y')}")


def write_zip(path, entries):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED,
                         compresslevel=6) as z:
        for name, data in entries:
            zi = zipfile.ZipInfo(name, ZIP_TIME)
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, data)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--drops", type=int, default=0)
    ap.add_argument("--no-json", action="store_true",
                    help="write only archive.zip and drop zips")
    args = ap.parse_args()
    g = Generator(args.seed)
    rng = g.rng
    n_new = args.drops * DROP_SIZE
    ids = rng.sample(range(200000, 2000000), HISTORY + n_new)
    span = (LAST_DAY - FIRST_DAY).days
    hist_days = sorted(FIRST_DAY + dt.timedelta(days=rng.randrange(span))
                       for _ in range(HISTORY))
    os.makedirs(os.path.join(args.out, "history"), exist_ok=True)
    latest, n_del, entries = None, 0, []

    def emit(mid, day, folder):
        nonlocal latest, n_del
        m = g.match(day)
        data = json.dumps(m, separators=(",", ":")).encode("utf-8")
        if not args.no_json:
            with open(os.path.join(folder, f"{mid}.json"), "wb") as f:
                f.write(data)
        key = (m["info"]["dates"][0], mid, m["info"]["dates"][0],
               m["info"]["teams"][0], m["info"]["teams"][1])
        latest = key if latest is None or key[:2] > latest[:2] else latest
        n_del += deliveries(m)
        return f"{mid}.json", data

    for mid, day in zip(ids, hist_days):
        entries.append(emit(mid, day, os.path.join(args.out, "history")))
    write_zip(os.path.join(args.out, "archive.zip"), entries)
    totals = {"seed": args.seed, "history": {
        "matches": HISTORY, "deliveries": n_del, "note": note(latest)},
        "drops": []}
    day = LAST_DAY
    for k in range(args.drops):
        folder = os.path.join(args.out, "drops", f"{k:03d}")
        os.makedirs(folder, exist_ok=True)
        batch = []
        for mid in ids[HISTORY + k * DROP_SIZE:
                       HISTORY + (k + 1) * DROP_SIZE]:
            day += dt.timedelta(days=rng.choice([0, 1, 2, 3]))
            batch.append(emit(mid, day, folder))
        write_zip(os.path.join(args.out, "drops", f"{k:03d}.zip"), batch)
        totals["drops"].append({
            "matches": HISTORY + (k + 1) * DROP_SIZE,
            "deliveries": n_del, "note": note(latest),
            "files": [n for n, _ in batch]})
    with open(os.path.join(args.out, "totals.json"), "w") as f:
        json.dump(totals, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
