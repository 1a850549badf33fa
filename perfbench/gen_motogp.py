"""Seeded generator for the 11 MotoGP sources in the reference layout.

`generate(out_dir, seed, n_results)` writes every source under the paths
`MotoGpPaths(base = out_dir)` resolves by default and returns the
expected content of the seven output tables, derived here from the
planted data alone (never from graft's output):

- the 5-way podium join: regulars finish 1st, 2nd, 3rd and lower;
- podium router: positions 1, 2, 3 and above 3;
- years before 2005, which the pipeline filters out;
- results on the bike with id 234, which the pipeline drops;
- "Surname, Name" rider names in race results;
- race circuit names that are near misses of the circuit file's names
  (the Jerez style), resolved by Jaro-Winkler; each generated name is
  checked here to have its planted circuit as the strict best match;
- constructor classes with both the trademark sign and its mojibake.
"""
import csv
import datetime
import json
import os
import random
from collections import defaultdict

from jaro import jaro_winkler

N_BIKES, N_RIDERS, N_TEAMS, N_CIRCUITS = 304, 2704, 970, 68
N_CONSTRUCTORS, N_POSITIONS, N_INFO, N_QUALI = 284, 394, 368, 7112
N_EVENTS, N_UNMATCHED = 300, 13  # weather/races: 313 rows each
BIKE_DROPPED = 234
FIRST_YEAR, LAST_YEAR = 1995, 2022

PLACES = [
    "Jerez", "Mugello", "Assen", "Sachsenring", "Phillip Island", "Motegi",
    "Sepang", "Losail", "Valencia", "Catalunya", "Le Mans", "Brno",
    "Silverstone", "Misano", "Aragon", "Estoril", "Donington", "Laguna Seca",
    "Indianapolis", "Austin", "Termas", "Buriram", "Spielberg", "Portimao",
    "Mandalika", "Buddh", "Kymi", "Shanghai", "Welkom", "Jacarepagua",
    "Paul Ricard", "Hockenheim", "Nurburgring", "Salzburgring", "Jarama",
    "Anderstorp", "Imola", "Monza", "Zolder", "Francorchamps", "Hungaroring",
    "Suzuka", "Eastern Creek", "Shah Alam", "Johor", "Nogaro", "Rijeka",
    "Opatija", "Interlagos", "Kyalami", "Goiania", "Albi", "Clermont",
    "Montjuic", "Dundrod", "Snaefell", "Imatra", "Hedemora", "Karlskoga",
    "Brands Hatch", "Oulton Park", "Snetterton", "Thruxton", "Mallory",
    "Spa", "Modena", "Vallelunga", "Pergusa",
]
PREFIXES = ["Circuito de", "Autodromo", "Circuit", "Motorland", "Ring"]
HONOREES = ["Angel Nieto", "Marco Simoncelli", "Ricardo Tormo", "Enzo Ferrari"]
REGIONS = ["de la Frontera", "Grand Prix", "Raceway", "International"]
COUNTRIES = ["ES", "IT", "NL", "DE", "AU", "JP", "MY", "QA", "FR", "CZ",
             "GB", "US", "AR", "TH", "AT", "PT", "ID", "IN", "FI", "CN"]
SYL = ["ka", "lo", "mi", "ne", "ro", "ta", "vi", "zu", "be", "do", "fa",
       "gi", "ha", "ju", "le", "mo", "nu", "pa", "ri", "so", "te", "va"]
CONDITIONS = ["Soleggiato", "Nuvoloso", "Pioggia", "Variabile"]
POINTS = [25, 20, 16, 13, 11, 10, 9, 8, 7, 6, 5, 4, 3, 2, 1]
TM, MOJIBAKE = "™", "â„¢"


def _word(rng, n):
    return "".join(rng.choice(SYL) for _ in range(n)).capitalize()


def _categories(year):
    if year < 2002:
        return ["500cc"]
    return ["MotoGP"] + (["Moto2"] if year >= 2010 else []) + \
        (["Moto3"] if year >= 2012 else [])


def _circuits(rng):
    """(csv_name, race_name, weather_name, country) per circuit; the race
    name is a near miss of the csv name whose strict best Jaro-Winkler
    match (lowercased, as the pipeline scores) is its own circuit."""
    base = []
    for i, place in enumerate(PLACES[:N_CIRCUITS]):
        csv_name = f"{PREFIXES[i % len(PREFIXES)]} {place}"
        if i % 3 == 0:
            csv_name += f" - {HONOREES[i % len(HONOREES)]}"
        weather = f"{place} {REGIONS[i % len(REGIONS)]}"
        base.append([csv_name, weather, COUNTRIES[i % len(COUNTRIES)]])
    lows = [b[0].lower() for b in base]
    out = []
    for i, (csv_name, weather, country) in enumerate(base):
        variants = [csv_name.split(" - ")[0], "  " + csv_name.upper() + " ",
                    f"{PLACES[i]} Circuit", csv_name]
        if i == 0:  # keep the real Jerez pair first
            variants.insert(0, "Circuito de Jerez")
        race = csv_name
        for v in variants[:1] + rng.sample(variants[1:], len(variants) - 1):
            key = v.strip().lower()
            scores = [jaro_winkler(key, other) for other in lows]
            if all(s < scores[i] for j, s in enumerate(scores) if j != i):
                race = v
                break
        out.append((csv_name, race, weather, country))
    return out


def generate(out_dir, seed, n_results):
    rng = random.Random(seed)
    d_res = os.path.join(out_dir, "MotoGP_Results&Bikes")
    d_cir = os.path.join(out_dir, "MotoGP_Circuits")
    d_arc = os.path.join(out_dir, "archive 1")
    d_scr = os.path.join(out_dir, "scraping")
    for d in (d_res, d_cir, d_arc, d_scr):
        os.makedirs(d, exist_ok=True)

    def write_csv(path, header, rows):
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)

    # bikes, teams: unique names in file order (row 1 is the placeholder)
    bikes = ["Unknown"]
    seen = set(bikes)
    while len(bikes) < N_BIKES:
        n = f"{_word(rng, 2)} {rng.randint(100, 999)}"
        if n not in seen:
            seen.add(n)
            bikes.append(n)
    write_csv(os.path.join(d_res, "bikes.csv"), ["id", "name", "country"],
              [[i + 1, n, rng.choice(COUNTRIES) if i else "?"]
               for i, n in enumerate(bikes)])
    teams = ["?"]
    seen = set(teams)
    while len(teams) < N_TEAMS:
        n = f"{_word(rng, 2)} {_word(rng, 3)} Team"
        if n not in seen:
            seen.add(n)
            teams.append(n)
    write_csv(os.path.join(d_res, "teams.csv"), ["id", "name", "country"],
              [[i + 1, n, rng.choice(COUNTRIES) if i else "?"]
               for i, n in enumerate(teams)])

    # riders: single-word first/last names, unique upper-cased full names
    riders = []
    seen = set()
    while len(riders) < N_RIDERS:
        first, last = _word(rng, rng.randint(2, 3)), _word(rng, rng.randint(2, 4))
        if f"{first} {last}".upper() in seen:
            continue
        seen.add(f"{first} {last}".upper())
        riders.append((len(riders) + 1, first, last, rng.choice(COUNTRIES),
                       "" if rng.random() < 0.1 else f"{rng.randint(1, 99)}.0"))
    write_csv(os.path.join(d_res, "riders.csv"),
              ["id", "first_name", "last_name", "country", "number"], riders)
    by_id = {r[0]: r for r in riders}

    # circuits, race calendar, weather
    circuits = _circuits(rng)
    write_csv(os.path.join(d_cir, "circuit_data.csv"),
              ["Name", "Lat", "Long", "Country", "Pole Position",
               "Length in meters", "Width in meters", "Right Corners",
               "Left Corners", "Longest Straight", "Constructed", "Modified"],
              [[c[0], round(rng.uniform(-40, 60), 4), round(rng.uniform(-120, 140), 4),
                c[3], rng.choice(["Left", "Right"]), rng.randint(3000, 6000),
                rng.randint(10, 16), rng.randint(5, 12), rng.randint(3, 8),
                rng.randint(500, 1200), rng.randint(1950, 2010), rng.randint(2000, 2020)]
               for c in circuits])
    # The seed picks the days and which circuit hosts each event, not how
    # many there are: every year holds a fixed number of events, the
    # unmatched ones sit at fixed places in date order and every circuit
    # hosts 4 or 5 events, so each table's size, and the Jaro-Winkler
    # work of the fuzzy matches, is the same for every seed.
    n_dates = N_EVENTS + 2 * N_UNMATCHED
    n_years = LAST_YEAR - FIRST_YEAR + 1
    dates = []
    for k in range(n_years):
        first = datetime.date(FIRST_YEAR + k, 1, 1)
        days = rng.sample(range(365), n_dates // n_years + (k < n_dates % n_years))
        dates += sorted((first + datetime.timedelta(days=d)).isoformat() for d in days)
    step = n_dates // (2 * N_UNMATCHED)
    unmatched = set(range(step // 2, n_dates, step)[:2 * N_UNMATCHED])
    matched_idx = [i for i in range(len(dates)) if i not in unmatched]
    only_w = sorted(unmatched)[:N_UNMATCHED]
    only_r = sorted(unmatched)[N_UNMATCHED:]
    hosts = [i % N_CIRCUITS for i in range(n_dates)]
    rng.shuffle(hosts)
    event_circuit = dict(enumerate(hosts))
    weather, races = [], []
    for i, date in enumerate(dates):
        c = circuits[event_circuit[i]]
        if i not in only_r:
            weather.append({"Circuito": c[2], "Data": date,
                            "Temp_Max": round(rng.uniform(15, 38), 1),
                            "Temp_Min": round(rng.uniform(2, 15), 1),
                            "Precipitazione": round(rng.choice([0.0, 0.0, rng.uniform(0, 30)]), 1),
                            "Condizione_Meteo": rng.choice(CONDITIONS)})
        if i not in only_w:
            races.append({"Anno": int(date[:4]), "Data": date, "Circuito": c[1],
                          "Nome_Ufficiale": f"Gran Premio {c[2]}",
                          "Percorso": f"{rng.randint(3, 6)},{rng.randint(100, 999)} km",
                          "Notturna": rng.choice(["No", "No", "Si"]),
                          "Latitudine": f"{rng.uniform(-40, 60):.6f}",
                          "Longitudine": f"{rng.uniform(-120, 140):.6f}"})
    rng.shuffle(weather)
    rng.shuffle(races)
    for path, rows in ((os.path.join(d_scr, "race_weather_data_final.json"), weather),
                       (os.path.join(d_scr, "motogp_gran_premi.json"), races)):
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f, ensure_ascii=False, indent=1)
    # id_race follows date order over the matched dates
    id_race = {dates[i]: k + 1 for k, i in enumerate(matched_idx)}
    race_circuit_id = {dates[i]: event_circuit[i] + 1 for i in matched_idx}
    first_race_at = {}
    for i in matched_idx:
        first_race_at.setdefault(circuits[event_circuit[i]][2], id_race[dates[i]])

    # race results over the matched events
    events = [(int(dates[i][:4]), circuits[event_circuit[i]][2]) for i in matched_idx]
    cats = [(y, c, cat) for (y, c) in events for cat in _categories(y)]
    per_race = max(4, -(-n_results // len(cats)))
    pools = {cat: rng.sample(range(1, N_RIDERS + 1), max(60, per_race * 2))
             for cat in ("500cc", "MotoGP", "Moto2", "Moto3")}
    dropped_bike = bikes[BIKE_DROPPED - 1]
    ride = {}  # (year, rider) -> (team, bike)
    results = []
    seq_in_year = defaultdict(int)
    for (year, circ, cat) in cats:
        if cat == _categories(year)[0]:
            seq_in_year[year] += 1
        grid = rng.sample(pools[cat], per_race)
        for pos, rid in enumerate(grid, start=1):
            if len(results) >= n_results:
                break
            if (year, rid) not in ride:
                bike = dropped_bike if rng.random() < 0.01 else rng.choice(bikes[1:])
                ride[(year, rid)] = (rng.choice(teams[1:]), bike)
            team, bike = ride[(year, rid)]
            r = by_id[rid]
            results.append([year, cat, seq_in_year[year], circ[:3].upper(), circ, rid,
                            f"{r[2]}, {r[1]}", team, bike, pos,
                            float(POINTS[pos - 1]) if pos <= len(POINTS) else 0.0,
                            r[4], r[3], round(rng.uniform(140, 180), 1),
                            f"{rng.randint(38, 46)}:{rng.randint(0, 59):02d}.{rng.randint(0, 9)}"])
    write_csv(os.path.join(d_res, "race_results_view.csv"),
              ["year", "category", "sequence", "shortname", "circuit_name", "rider",
               "rider_name", "team_name", "bike_name", "position", "points", "number",
               "country", "speed", "time"], results)

    # podium stats ("Name Surname") and career info ("SURNAME Name")
    def stranger():  # a name no master rider and no earlier stranger has
        while True:
            first, last = _word(rng, 3), _word(rng, 5)
            if f"{first} {last}".upper() not in seen:
                seen.add(f"{first} {last}".upper())
                return first, last

    known = rng.sample(riders, N_POSITIONS - 44)
    pos_names = [f"{r[1]} {r[2]}" for r in known] + \
        ["%s %s" % stranger() for _ in range(44)]
    write_csv(os.path.join(d_arc, "riders-finishing-positions.csv"),
              ["Rider", "Victories", "NumberofSecond", "NumberofThird", "Numberof4th",
               "Numberof5th", "Numberof6th", "Country"],
              [[n] + [rng.randint(0, 90) for _ in range(6)] + [rng.choice(COUNTRIES)]
               for n in pos_names])
    def surname_first(first, last):
        return f"{last.upper()} {first}"

    info = rng.sample(riders, N_INFO - 68)
    info_names = [surname_first(r[1], r[2]) for r in info] + \
        [surname_first(*stranger()) for _ in range(68)]
    write_csv(os.path.join(d_arc, "riders-info.csv"),
              ["Riders All Time in All Classes", "Victories", "2nd places", "3rd places",
               "Pole positions from '74 to 2022", "Race fastest lap to 2022",
               "World Championships"],
              [[n, rng.randint(0, 120)] + [f"{rng.randint(0, 60)}.0" for _ in range(5)]
               for n in info_names])

    # qualifying grid: unique (Year, OfficialName, RiderName) keys, most of
    # them hitting a MotoGP result, the rest before 2005
    quali_keys = sorted({(r[0], r[4], f"{by_id[r[5]][1]} {by_id[r[5]][2]}")
                         for r in results if r[1] == "MotoGP" and r[0] >= 2005})
    quali_keys = rng.sample(quali_keys, min(len(quali_keys), N_QUALI * 3 // 5))
    taken = set(quali_keys)
    while len(quali_keys) < N_QUALI:
        r = rng.choice(riders)
        k = (rng.randint(FIRST_YEAR, 2004), rng.choice(circuits)[2], f"{r[1]} {r[2]}")
        if k not in taken:
            taken.add(k)
            quali_keys.append(k)
    rng.shuffle(quali_keys)
    write_csv(os.path.join(d_scr, "motogp_griglia.csv"),
              ["Year", "Circuit", "OfficialName", "Class", "RiderName", "Position"],
              [[y, f"GP di {c.split()[0]}", c, "MotoGP", n, rng.randint(1, 30)]
               for (y, c, n) in quali_keys])

    # constructors: several rows per (season, class), some in mojibake
    cons, multiplicity = [], defaultdict(int)
    keys = [(y, c) for y in range(LAST_YEAR, FIRST_YEAR - 1, -1) for c in _categories(y)]
    while len(cons) < N_CONSTRUCTORS:
        for (y, c) in keys:
            if len(cons) >= N_CONSTRUCTORS:
                break
            suffix = "" if c == "500cc" else (MOJIBAKE if rng.random() < 0.2 else TM)
            cons.append([y, _word(rng, 3), c + suffix])
            if suffix != MOJIBAKE:
                multiplicity[(y, c)] += 1
    write_csv(os.path.join(d_arc, "constructure-world-championship.csv"),
              ["Season", "Constructor", "Class"], cons)

    # expected outputs from the planted data
    valid = [r for r in results if r[8] != dropped_bike]
    clean = [r for r in valid if r[0] >= 2005]
    motogp = [r for r in clean if r[1] == "MotoGP"]
    places = defaultdict(lambda: [0, 0, 0, 0])
    for r in clean:
        places[r[5]][min(r[9], 4) - 1] += 1
    in_motogp = {r[5] for r in motogp}
    rider_rows = {}
    for rid, p in places.items():
        if all(p) and rid in in_motogp:
            rr = by_id[rid]
            rider_rows[f"{rr[1]} {rr[2]}"] = p
    standings = defaultdict(float)
    for r in clean:
        if multiplicity[(r[0], r[1])]:
            standings[(r[0], r[1], r[7])] += multiplicity[(r[0], r[1])] * r[10]
    ranked = {}
    groups = defaultdict(list)
    for (y, c, t), pts in standings.items():
        groups[(y, c)].append((-pts, t.lower(), t))
    for (y, c), rows in groups.items():
        for k, (neg, _, t) in enumerate(sorted(rows), start=1):
            ranked[(y, c, t)] = (-neg, k)
    part_id_race = defaultdict(int)
    for r in motogp:
        part_id_race[first_race_at[r[4]]] += 1

    expected = {
        "tables": {
            "race": len(matched_idx), "info_race": len(matched_idx),
            "circuit": len(matched_idx), "teams": N_TEAMS,
            "rider": len(rider_rows), "partecipation": len(motogp),
            "team_standings": len(ranked),
        },
        "race_circuit_id": race_circuit_id,
        "id_race": id_race,
        "teams": teams,
        "rider_places": rider_rows,
        "partecipation_id_race": dict(part_id_race),
        "standings": {f"{y}|{c}|{t}": v for (y, c, t), v in ranked.items()},
        "rows": {"race_results": len(results), "results_kept": len(clean),
                 "per_race": per_race},
    }
    return expected


if __name__ == "__main__":
    import sys
    exp = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(json.dumps(exp["tables"]), json.dumps(exp["rows"]))
