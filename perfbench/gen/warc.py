"""Seeded Common-Crawl-layout WARC segments for the crawl workload.

Each `.warc.gz` file is a sequence of gzip members, one per record:
a warcinfo record, then request/response (and sometimes metadata) records
per fetched URL. Pages come from a skewed set of domains; each domain wraps
its pages in shared navigation and footer boilerplate around a main body
drawn from a Zipf vocabulary. Planted on top:

* exact mirrors: byte-identical pages under a mirror domain;
* near-duplicates: a copy with a few words changed, on the same domain;
* low-quality pages: digit and symbol spam with no prose;
* non-200 responses (404, 301) and non-response records;
* windows-1251 encoded Russian pages that only transcode makes readable.

The generator records the URL groups of every planted duplicate so the
benchmark can check what dedup and curation kept.
"""

import gzip
import io
import os
import random

from . import zipf

STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "that", "it", "for",
             "on", "with", "as", "at", "by", "from", "this", "was", "are", "be")
_SYL = ("ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "ma", "ne", "pi", "ro",
        "sa", "te", "vu", "wa", "xe", "yo", "za", "tri", "pla", "stro", "quen")
RU_SENTENCES = (
    "Шахматы помогают развивать логическое мышление и память.",
    "Сегодня в городе прошёл большой турнир по быстрым шахматам.",
    "Эта статья рассказывает о новых методах обработки текста.",
    "Погода в выходные будет тёплой и солнечной во всех районах.",
)


def _vocab(rng, n):
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _paragraphs(rng, vocab, cdf):
    paras = []
    for _ in range(rng.randint(3, 6)):
        words = [vocab[zipf.draw(rng, cdf)] for _ in range(rng.randint(40, 90))]
        words[0] = words[0].capitalize()
        paras.append(" ".join(words) + ".")
    return paras


def _page(domain, title, paras, boiler=True):
    nav = "".join('<a href="https://%s/section/%d">Section %d</a> ' % (domain, i, i)
                  for i in range(1, 7))
    body = "".join("<p>%s</p>\n" % p for p in paras)
    footer = ("<div class=\"footer\"><p>Copyright %s. All rights reserved. Read the "
              "terms of use and the privacy policy of this site.</p></div>" % domain)
    if not boiler:
        nav = footer = ""
    return ("<!DOCTYPE html>\n<html><head><title>%s</title>"
            "<script>var t = 1;</script></head>\n<body><nav>%s</nav>\n"
            "<article>\n%s</article>\n%s</body></html>\n" % (title, nav, body, footer))


def _record(rec_type, url, date, rid, payload, extra=()):
    head = ["WARC/1.0", "WARC-Type: " + rec_type, "WARC-Target-URI: " + url,
            "WARC-Date: " + date, "WARC-Record-ID: <urn:uuid:%s>" % rid]
    head += list(extra)
    head.append("Content-Length: %d" % len(payload))
    return ("\r\n".join(head) + "\r\n\r\n").encode("ascii") + payload + b"\r\n\r\n"


def _http(status, ctype, body):
    reason = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}[status]
    return ("HTTP/1.1 %d %s\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
            % (status, reason, ctype, len(body))).encode("ascii") + body


def generate(seed, pages, domains=60, domain_skew=1.0, vocab_size=6000,
             mirror_share=0.04, near_share=0.04, low_share=0.05,
             non200_share=0.04, cp1251_share=0.01, files=8):
    """Build the segment in memory.

    Returns (files, truth): `files` maps a file name to its gzip bytes;
    `truth` holds the planted URL sets and input properties.
    """
    rng = random.Random("warc:%d" % seed)
    vocab = _vocab(rng, vocab_size)
    wcdf = zipf.cdf(vocab_size, 1.05)
    names = ["site%03d-%s.example" % (i, "".join(rng.choice(_SYL) for _ in range(2)))
             for i in range(domains)]
    dcdf = zipf.cdf(domains, domain_skew)

    docs = []  # (url, status, ctype, body bytes)
    truth = {"mirror_groups": [], "near_groups": [], "low_quality": [],
             "cp1251": [], "html_200": 0, "non200": 0}
    for i in range(pages):
        domain = names[zipf.draw(rng, dcdf)]
        url = "https://%s/articles/%d" % (domain, i)
        r = rng.random()
        if r < low_share:
            junk = " ".join(rng.choice(("%04d" % rng.randint(0, 9999), "$$$", "###",
                                        "!!!", "%d%%" % rng.randint(1, 99)))
                            for _ in range(rng.randint(20, 40)))
            html = _page(domain, "SALE %d" % i, [junk], boiler=False)
            docs.append((url, 200, "text/html; charset=utf-8", html.encode("utf-8")))
            truth["low_quality"].append(url)
            continue
        if r < low_share + cp1251_share:
            paras = [" ".join(rng.choice(RU_SENTENCES) for _ in range(4))
                     for _ in range(3)]
            html = _page(domain, "Новости %d" % i, paras).replace(
                "<head>", '<head><meta charset="windows-1251">')
            docs.append((url, 200, "text/html; charset=windows-1251",
                         html.encode("cp1251")))
            truth["cp1251"].append([url, paras[0]])
            continue
        paras = _paragraphs(rng, vocab, wcdf)
        html = _page(domain, "Article %d" % i, paras)
        body = html.encode("utf-8")
        docs.append((url, 200, "text/html; charset=utf-8", body))
        r2 = rng.random()
        if r2 < mirror_share:
            group = [url]
            for k in range(rng.randint(1, 2)):
                murl = "https://mirror%d.%s/articles/%d" % (k, domain, i)
                docs.append((murl, 200, "text/html; charset=utf-8", body))
                group.append(murl)
            truth["mirror_groups"].append(group)
        elif r2 < mirror_share + near_share:
            words = " ".join(paras).split(" ")
            for _ in range(2):
                j = rng.randrange(len(words))
                words[j] = rng.choice(vocab[20:])
            near = _page(domain, "Article %d" % i, [" ".join(words)])
            nurl = "https://%s/articles/%d/print" % (domain, i)
            docs.append((nurl, 200, "text/html; charset=utf-8", near.encode("utf-8")))
            truth["near_groups"].append([url, nurl])
        if rng.random() < non200_share:
            status = rng.choice((404, 301))
            docs.append(("https://%s/missing/%d" % (domain, i), status,
                         "text/html; charset=utf-8",
                         b"<html><body><p>Not here.</p></body></html>"))
    order = list(range(len(docs)))
    rng.shuffle(order)

    buffers = [io.BytesIO() for _ in range(files)]
    counts = [0] * files
    uid = 0

    def member(fi, data):
        buffers[fi].write(gzip.compress(data, compresslevel=6, mtime=0))

    for fi in range(files):
        info = ("software: graft-perfbench\r\nformat: WARC File Format 1.0\r\n").encode()
        member(fi, _record("warcinfo", "", "2024-03-01T00:00:00Z",
                           "00000000-0000-0000-0000-%012d" % fi, info,
                           ("Content-Type: application/warc-fields",)))
    for n, di in enumerate(order):
        url, status, ctype, body = docs[di]
        fi = n % files
        date = "2024-03-%02dT%02d:%02d:00Z" % (1 + n % 28, n % 24, n % 60)
        req = ("GET %s HTTP/1.1\r\nHost: x\r\nUser-Agent: bench\r\n\r\n"
               % url.split("/", 3)[-1]).encode("ascii")
        uid += 1
        member(fi, _record("request", url, date, "%036d" % uid, req,
                           ("Content-Type: application/http; msgtype=request",)))
        uid += 1
        member(fi, _record("response", url, date, "%036d" % uid, _http(status, ctype, body),
                           ("Content-Type: application/http; msgtype=response",)))
        if n % 5 == 0:
            uid += 1
            member(fi, _record("metadata", url, date, "%036d" % uid,
                               b"fetchTimeMs: 120\r\n",
                               ("Content-Type: application/warc-fields",)))
        counts[fi] += 1
        if status == 200:
            truth["html_200"] += 1
        else:
            truth["non200"] += 1
    out = {"CC-BENCH-%05d.warc.gz" % i: b.getvalue() for i, b in enumerate(buffers)}
    planted = sum(len(g) - 1 for g in truth["mirror_groups"] + truth["near_groups"])
    truth.update({
        "records": sum(counts), "domains": domains, "domain_skew": domain_skew,
        "planted_copies": planted,
        "planted_dup_share": planted / truth["html_200"],
        "low_quality_share": len(truth["low_quality"]) / truth["html_200"],
        "input_mb": sum(len(b) for b in out.values()) / 1e6,
    })
    return out, truth


def write(dirpath, files):
    os.makedirs(dirpath, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(dirpath, name), "wb") as f:
            f.write(data)
