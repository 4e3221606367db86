"""Seeded CMS-shaped pages for the kernel tests.

A page the way a content-management system renders one: a ``<head>``
with title, stylesheet and script, a two-level menu in ``header > nav``,
the article inside an 8-18 deep chain of wrapper ``div``s that also
holds an ad slot (``div.ad-slot > div.inner``) and a six-card
``aside.sidebar``, and a footer with 40 links and an inline script.
Most of its tags sit in dropped subtrees, which is what the kernel's
dropped-subtree skip is for; ``cc_mixed`` pages have far fewer.
"""

from __future__ import annotations

import random

_WORDS = (
    "river stone market garden window letter silver morning harbor "
    "engine paper winter signal copper meadow lantern orbit canvas "
    "thunder valley"
).split()


def cms_page(i: int, seed: int = 0) -> str:
    """Page ``i`` of the set drawn from ``seed``: a pure function of both."""
    rng = random.Random((seed << 32) ^ i)

    def words(n: int) -> str:
        return " ".join(rng.choice(_WORDS) for _ in range(n))

    menu = "".join(
        f'<li class="menu-item"><a href="/s{k}">{words(2)}</a>'
        '<ul class="sub-menu">'
        + "".join(f'<li><a href="/s{k}/{j}">{words(2)}</a></li>'
                  for j in range(rng.randrange(1, 4)))
        + "</ul></li>"
        for k in range(rng.randrange(4, 9)))
    head = (
        '<head><meta charset="utf-8">'
        '<meta name="viewport" content="width=device-width">'
        f"<title>{words(4)} | Site</title>"
        '<link rel="stylesheet" href="/theme.css">'
        "<style>.menu>li{display:inline}.card a:hover{color:red}</style>"
        "<script>var cfg={a:1};if(cfg.a<2){cfg.b='</div>'}</script>"
        "</head>")
    header = (
        '<header class="site-header"><div class="logo">'
        f'<a href="/"><img src="/logo.png" alt="logo"> {words(2)}</a></div>'
        f'<nav class="main-nav"><ul class="menu">{menu}</ul></nav></header>')
    paras = []
    for _ in range(rng.randrange(10, 41)):
        r = rng.random()
        if r < 0.3:
            paras.append(f"<p>{words(12)} <a href=\"/x{rng.randrange(99)}\">"
                         f"{words(3)}</a> {words(10)}</p>")
        elif r < 0.5:
            paras.append(f"<p>{words(8)} <strong>{words(2)}</strong> "
                         f"{words(9)}<br>{words(6)}</p>")
        else:
            paras.append(f"<p>{words(rng.randrange(15, 40))}</p>")
    paras.insert(len(paras) // 2, f"<h2>{words(4)}</h2>")
    ad = ('<div class="ad-slot"><div class="inner">'
          '<a href="/promo"><img src="/ad.png" alt="ad"></a>'
          "<script>(window.ads=window.ads||[]).push({slot:1})</script>"
          "</div></div>")
    cards = "".join(
        f'<div class="card"><h3>{words(3)}</h3><p>{words(12)}</p>'
        f'<a href="/c{k}">{words(2)}</a></div>'
        for k in range(6))
    aside = f'<aside class="sidebar">{cards}</aside>'
    depth = rng.randrange(8, 19)
    links = "".join(f'<li><a href="/f{k}">{words(2)}</a></li>'
                    for k in range(40))
    footer = (
        f'<footer class="site-footer"><ul class="links">{links}</ul>'
        f"<p>© 2024 {words(3)}</p>"
        "<script>document.write('</footer>')</script></footer>")
    return (
        f"<!DOCTYPE html><html lang=\"en\">{head}<body>{header}"
        + "".join(f'<div class="wrap-{d}">' for d in range(depth))
        + f"<main><article><h1>{words(5)}</h1>{''.join(paras)}</article>"
        + f"</main>{ad}{aside}" + "</div>" * depth
        + f"{footer}</body></html>")
