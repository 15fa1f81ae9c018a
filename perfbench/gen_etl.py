"""Seeded CSV replicator for the etl_daily workload.

Writes one directory per crawl day (day_000, day_001, ...) holding the
eleven inputs a daily tick reads, in the shapes of the reference exports
the pipelines parse (the same headers, delimiters and encodings as the
fixtures in src/test/resources, scaled up to a site crawl), plus
``expected.json`` with the row count each warehouse table must hold
after the tick. Values are drawn from numpy's PCG64 seeded with
``seed``: the same seed gives byte-identical files.

Usage: python3 perfbench/gen_etl.py <out_dir> <seed> <days> <html_rows>
"""
import csv
import datetime
import json
import os
import sys

import numpy as np

FIRST_DAY = datetime.date(2024, 5, 1)

HTML_HEADER = [
    "Address", "Status Code", "Title 1", "Meta Description 1", "H1-1",
    "Meta Robots 1", "Canonical Link Element 1", "Size (bytes)", "Word Count",
    "Sentence Count", "Average Words Per Sentence",
    "Flesch Reading Ease Score", "Text Ratio", "Readability", "Crawl Depth",
    "Link Score", "Unique Inlinks", "Unique Outlinks", "Crawl Timestamp",
    "Last Crawl", "URL Inspection API Status", "Summary", "Coverage",
    "Crawled As", "Page Fetch", "Indexing Allowed", "Crawl Allowed",
    "User-Declared Canonical", "Google-Selected Canonical",
    "Mobile Usability", "Rich Results", "Rich Results Types",
    "Days Since Last Crawled", "Redirect URL", "ibe_integration 1",
    "number_of_deals 1", "travellogic 1", "ibe_agent_id", "content-1",
    "content-2", "content-3", "travelogic_agents_1", "travelogic_agents_2"]
MIDOCO_HEADER = [
    "Leistung Anlagedatum", "CRS (Standard) Reisebeginn",
    "CRS (Standard) Reiseende", "CRS (Standard) Stornodatum",
    "Leistung Element Preis", "Leistung Initialer Preis",
    "Auftrag Vermittler (Auftrag)", "Leistung Abflughafen Beschreibung",
    "Leistung Rückflug Abflughafen Beschreibung", "Leistung Hotelort",
    "Leistung Land Beschreibung", "Leistung Beschreibung",
    "Leistung Kategorie", "Leistungsattribut Wert", "CRS (Standard) ExtId",
    "CRS (Standard) Status", "CRS (Standard) Personenzahl",
    "CRS (Standard) original Buchungsnummer"]

SECTIONS = ["reisen", "angebote", "hotels", "magazin", "last-minute",
            "kreuzfahrten", "staedtereisen", "familie"]
PLACES = ["spanien", "mallorca", "tuerkei", "antalya", "griechenland",
          "kreta", "italien", "sardinien", "portugal", "algarve", "aegypten",
          "hurghada", "kroatien", "istrien", "zypern", "malta"]
WORDS = ["strand", "meer", "hotel", "familie", "sonne", "urlaub", "angebot",
         "pool", "zimmer", "ausflug", "bucht", "altstadt", "hafen", "wandern"]
AGENTS = ["Alpha", "Beta", "Gamma", "Delta", ""]
OFFICES = ["Büro München", "Büro Köln", "Online",
           "Büro Hamburg", "Büro Berlin"]
AIRPORTS = ["München Flughafen", "Köln/Bonn", "Düsseldorf",
            "Frankfurt", "Hamburg"]
DESTS = [("Palma de Mallorca", "Cala Ratjada", "Spanien"),
         ("Antalya", "Side", "Türkei"),
         ("Heraklion", "Chersonissos", "Griechenland"),
         ("Faro", "Albufeira", "Portugal"),
         ("Hurghada", "Makadi Bay", "Ägypten")]


def _paths(rng, n, max_depth=5):
    """n slash-joined section/place paths of 1..max_depth segments."""
    depth = rng.integers(1, max_depth + 1, n)
    sec = rng.integers(0, len(SECTIONS), n)
    plc = rng.integers(0, len(PLACES), (n, max_depth - 1))
    return ["/".join([SECTIONS[s]] + [PLACES[p] for p in row[:d - 1]])
            for s, row, d in zip(sec.tolist(), plc.tolist(), depth.tolist())]


def _page_urls(rng, n):
    """n distinct crawl addresses: the root first, then internal pages,
    whitelabel subdomain pages, external links and pictures."""
    kinds = rng.choice(4, n - 1, p=[0.8, 0.08, 0.04, 0.08])
    urls = ["https://www.example.de/"]
    for i, (kind, path) in enumerate(zip(kinds, _paths(rng, n - 1))):
        if kind == 0:
            urls.append(f"https://www.example.de/{path}/p{i}")
        elif kind == 1:
            urls.append(f"https://blog.example.de/{path}/p{i}")
        elif kind == 2:
            urls.append(f"https://other{i % 7}.com/{path}/p{i}")
        else:
            ext = ["jpg", "png", "webp"][i % 3]
            urls.append(f"https://www.example.de/media/{path}/img{i}.{ext}")
    return urls


def _is_picture(url):
    return url.rsplit(".", 1)[-1] in ("jpg", "jpeg", "png", "gif", "svg",
                                      "webp")


def _texts(rng, n, lo, hi):
    """n space-joined word runs of lo..hi-1 words."""
    lens = rng.integers(lo, hi, n).tolist()
    idx = rng.integers(0, len(WORDS), sum(lens)).tolist()
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[j] for j in idx[at:at + k]))
        at += k
    return out


def _write(path, header, rows, **kw):
    enc = kw.pop("encoding", "utf-8")
    with open(path, "w", newline="", encoding=enc) as f:
        w = csv.writer(f, lineterminator="\n", **kw)
        w.writerow(header)
        w.writerows(rows)


def _html_rows(rng, urls, day):
    n = len(urls)
    stamp = day.isoformat()
    prev = f"{(day - datetime.timedelta(days=1)).isoformat()} 09:00:00"
    status = rng.choice([200, 200, 200, 200, 301, 404], n)
    status[0] = 200  # the crawl-sanity gate wants a healthy root
    words = rng.integers(50, 2000, n)
    sentences = rng.integers(3, 120, n)
    blank = rng.random(n) < 0.1  # readability metrics missing
    flesch = np.round(rng.uniform(10, 90, n), 1)
    ratio = np.round(rng.uniform(0.05, 0.6, n), 2)
    size = rng.integers(1000, 300000, n)
    depth = rng.integers(0, 8, n)
    score = np.round(rng.uniform(0, 100, n), 2)
    inl = rng.integers(0, 500, n)
    outl = rng.integers(0, 200, n)
    hour = rng.integers(0, 24, n)
    minute = rng.integers(0, 60, n)
    last = rng.random(n) < 0.7
    days_since = rng.integers(0, 30, n)
    deals = rng.integers(0, 50, n)
    agent = rng.integers(1, 20, n)
    a1 = rng.integers(0, 4, n)
    a2 = rng.integers(0, 5, n)
    desc = _texts(rng, n, 6, 7)
    h1 = _texts(rng, n, 3, 4)
    c1 = _texts(rng, n, 5, 40)
    c2 = _texts(rng, n, 0, 20)
    # plain Python values: csv formats numpy scalars far slower
    (status, words, sentences, blank, flesch, ratio, size, depth, score, inl,
     outl, hour, minute, last, days_since, deals, agent, a1, a2) = (
        a.tolist() for a in (status, words, sentences, blank, flesch, ratio,
                             size, depth, score, inl, outl, hour, minute,
                             last, days_since, deals, agent, a1, a2))
    rows = []
    for i, url in enumerate(urls):
        metrics = ["", "", "", ""] if blank[i] else [
            sentences[i], round(words[i] / sentences[i], 2), flesch[i],
            ratio[i]]
        rows.append([
            url, status[i], f"Title {url[-12:]}", "desc " + desc[i],
            "h1 " + h1[i], "index,follow", url, size[i], words[i], *metrics,
            "standard", depth[i], score[i], inl[i], outl[i],
            f"{stamp} {hour[i]:02d}:{minute[i]:02d}:00",
            prev if last[i] else "", "URL is on Google", "ok", "Indexed",
            "Mobile", "Successful", "Yes", "Yes", url, url, "Usable", "Valid",
            "Breadcrumbs", days_since[i], "", "yes", deals[i], "true",
            f"agent-{agent[i]}", c1[i], c2[i], "", AGENTS[a1[i]],
            AGENTS[a2[i]]])
    return rows


def _german(d):
    return d.strftime("%d.%m.%Y")


def _decimal(x):
    whole, frac = f"{x:.2f}".split(".")
    return f"{int(whole):,}".replace(",", ".") + "," + frac


def write_day(out, rng, day, day_idx, html_rows):
    os.makedirs(out, exist_ok=True)
    expected = {}
    urls = _page_urls(rng, html_rows)
    pictures = sum(1 for u in urls if _is_picture(u))
    _write(f"{out}/internal_html.csv", HTML_HEADER, _html_rows(rng, urls, day))
    expected["html_slim"] = html_rows - pictures
    expected["content_history"] = html_rows - pictures
    expected["content_current"] = html_rows - pictures

    n_links = 5 * html_rows
    src = rng.integers(0, html_rows, n_links).tolist()
    dst = rng.integers(0, html_rows, n_links).tolist()
    kinds = rng.choice(["Hyperlink", "Hyperlink", "Hyperlink", "Image"],
                       n_links).tolist()
    _write(f"{out}/all_inlinks.csv",
           ["Type", "Source", "Destination", "Anchor", "Alt Text",
            "Status Code", "Follow"],
           [[k, urls[s], urls[d], WORDS[d % len(WORDS)] if k != "Image"
             else "", WORDS[s % len(WORDS)] if k == "Image" else "",
             200 if d % 11 else 301, "TRUE" if s % 5 else "FALSE"]
            for k, s, d in zip(kinds, src, dst)])
    expected["inlinks"] = n_links

    n_img = html_rows // 8
    _write(f"{out}/internal_images.csv",
           ["Address", "Status Code", "Size (bytes)", "content-1"],
           [[f"https://www.example.de/media/{p}/i{i}.jpg", 200, sz, t]
            for i, (p, sz, t) in enumerate(zip(
                _paths(rng, n_img, 2), rng.integers(5000, 900000, n_img).tolist(),
                _texts(rng, n_img, 2, 3)))])
    expected["images"] = n_img + pictures

    n_bl = html_rows // 2
    _write(f"{out}/link_metrics_all.csv",
           ["Address", "Ahrefs Backlinks - Exact", "Ahrefs RefDomains - Exact",
            "Ahrefs URL Rating - Exact", "Ahrefs Domain Rating"],
           [[urls[j], b, r, u, 71.0] for j, b, r, u in zip(
               rng.integers(0, html_rows, n_bl).tolist(),
               rng.integers(0, 5000, n_bl).tolist(),
               rng.integers(0, 800, n_bl).tolist(),
               np.round(rng.uniform(0, 80, n_bl), 1).tolist())])
    expected["backlinks"] = n_bl

    n_orph = max(2, html_rows // 40)
    gsc = [f"https://www.example.de/alt/{p}/o{i}"
           + (".png" if i % 9 == 0 else "")
           for i, p in enumerate(_paths(rng, n_orph, 2))]
    _write(f"{out}/search_console_orphan_urls.csv",
           ["Address", "Status Code", "Clicks", "Impressions", "CTR",
            "Position"],
           [[u, 200, "" if i % 4 == 0 else int(rng.integers(0, 50)),
             "" if i % 4 == 0 else int(rng.integers(0, 2000)),
             "" if i % 3 == 0 else round(float(rng.uniform(0, 0.2)), 3),
             round(float(rng.uniform(1, 60)), 1)]
            for i, u in enumerate(gsc)])
    sitemap = [f"https://www.example.de/sitemap-only/{p}/s{i}"
               + (".jpg" if i % 7 == 0 else "")
               for i, p in enumerate(_paths(rng, n_orph, 2))]
    _write(f"{out}/sitemaps_orphan_urls.csv", ["Address", "Status Code"],
           [[u, 200] for u in sitemap])
    expected["orphans"] = sum(1 for u in gsc + sitemap if not _is_picture(u))

    n_book = html_rows // 8
    rows = []
    for i in range(n_book):
        booked = day - datetime.timedelta(days=int(rng.integers(0, 60)))
        start = day + datetime.timedelta(days=int(rng.integers(1, 200)))
        end = start + datetime.timedelta(days=int(rng.integers(3, 21)))
        cancelled = rng.random() < 0.15
        price = float(rng.uniform(200, 6000))
        dest = DESTS[int(rng.integers(len(DESTS)))]
        rows.append([
            _german(booked), _german(start), _german(end),
            _german(booked + datetime.timedelta(days=2)) if cancelled else "",
            _decimal(price), _decimal(price * float(rng.uniform(0.9, 1.1))),
            OFFICES[int(rng.integers(len(OFFICES)))],
            AIRPORTS[int(rng.integers(len(AIRPORTS)))], dest[0], dest[1],
            dest[2], f"Hotel {WORDS[i % len(WORDS)].title()}", "Pauschal",
            "Meerblick", f"X{day_idx}{i:06d}",
            "STORNO" if cancelled else "OK",
            int(rng.integers(1, 6)) if i % 50 else "junk",
            900000 + i if i % 50 else "abc"])
    _write(f"{out}/midoco_report.csv", MIDOCO_HEADER, rows, delimiter=";",
           encoding="latin-1")
    expected["bookings"] = n_book

    n_aud = html_rows // 2
    aud = [[urls[j], pr, cr] for j, pr, cr in zip(
        rng.integers(0, html_rows, n_aud).tolist(),
        np.round(rng.uniform(0, 1, n_aud), 4).tolist(),
        np.round(rng.uniform(0, 1, n_aud), 4).tolist())]
    head = ["Url", "Page Rank", "Chei Rank"]
    half = n_aud // 2
    _write(f"{out}/audisto_pages_chunk_0.csv", head, aud[:half])
    # chunked exports repeat their header inside later chunks
    _write(f"{out}/audisto_pages_chunk_1.csv", head, [head] + aud[half:])
    expected["audisto_pages"] = n_aud
    with open(f"{out}/audisto_crawls_list.json", "w") as f:
        json.dump([{"id": 1000 + day_idx,
                    "timestamps": {"started": f"{day.isoformat()}T03:00:00Z"}},
                   {"id": 999 + day_idx,
                    "timestamps": {"started":
                                   f"{(day - datetime.timedelta(days=1)).isoformat()}"
                                   "T03:00:00Z"}}], f)

    n_hl = max(2, html_rows // 40)
    for name in ("hreflang_missing_return_links", "hreflang_non200_hreflang_urls"):
        _write(f"{out}/{name}.csv", ["Address", "Occurrences", "HTML hreflang"],
               [[urls[j], 1 + j % 4, ["de-DE", "en-GB", "fr-FR", "es-ES"][j % 4]]
                for j in rng.integers(0, html_rows, n_hl).tolist()])
    expected["hreflang_missing"] = n_hl
    expected["hreflang_non200"] = n_hl
    inputs = sorted(os.listdir(out))
    in_bytes = sum(os.path.getsize(os.path.join(out, f)) for f in inputs)
    in_rows = 0
    for name in inputs:
        if name.endswith(".csv"):
            with open(os.path.join(out, name), "rb") as f:
                in_rows += sum(1 for _ in f) - 1
    return {"dir": os.path.basename(out), "run_date": day.isoformat(),
            "rows": expected, "input_bytes": in_bytes, "input_rows": in_rows}


def main(out_dir, seed, days, html_rows):
    rng = np.random.Generator(np.random.PCG64(seed))
    written = []
    for d in range(days):
        day = FIRST_DAY + datetime.timedelta(days=d)
        written.append(write_day(os.path.join(out_dir, f"day_{d:03d}"), rng,
                                 day, d, html_rows))
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(written, f, indent=1, sort_keys=True)
    # the tick order for the harness: directory, run date, input rows
    with open(os.path.join(out_dir, "days.tsv"), "w") as f:
        for w in written:
            f.write(f"{w['dir']}\t{w['run_date']}\t{w['input_rows']}\n")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
