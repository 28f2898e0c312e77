#!/usr/bin/env python
"""Query-layer golden generator: materialize the synthetic pages as a
file tree, run the REFERENCE ingest + search over it via Node, and
record its outputs (search results, statistics, by-type, similar) as
fixtures/golden_search.json.

Usage: python tools/gen_search_goldens.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, "/root/repo")

from src_to_kb_spark.sources.pages import synthetic_pages_rows

REPO_DIR = "/tmp/_ref_search_repo"
KB_DIR = "/tmp/_ref_search_kb"
OUT = "/root/repo/fixtures/golden_search.json"

QUERIES = [
    "spark join", "window", "graph entity link", "the table scan",
    # adversarial parity probes (round-4 review):
    # - "scan." exercises the literal-containment gate (search.js:148):
    #   the corpus has regex matches for /scan./ but ZERO literal
    #   'scan.' occurrences, so the reference returns an empty set
    # - " window " keeps JS split's empty keywords (['', 'window', ''])
    #   which score every chunk length+1 each
    # - "" is the blank query (keywords=['']) — ranks all chunks
    "scan.", " window ", "",
]
MODES = ["developer", "enduser", "copilot"]
N_PAGES = 80


def relpath_of(url: str) -> str:
    # url = https://host/lang/p<i>.<ext> → lang/p<i>.<ext>
    return "/".join(url.split("/")[3:])


def main() -> None:
    rows = synthetic_pages_rows(N_PAGES)
    shutil.rmtree(REPO_DIR, ignore_errors=True)
    shutil.rmtree(KB_DIR, ignore_errors=True)
    mapping = {}
    for url, _ts, _html, text, _lang in rows:
        rel = relpath_of(url)
        p = os.path.join(REPO_DIR, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w", encoding="utf-8") as f:
            f.write(text)
        mapping[rel] = url

    node_script = r"""
const { KnowledgeBaseGenerator } = require('/root/reference/kb-generator.js');
const { KnowledgeBaseSearch } = require('/root/reference/search.js');
const [repoDir, kbDir, cfgJson] = process.argv.slice(1).filter(a => a !== '--');
const cfg = JSON.parse(cfgJson);
const log = console.log; console.log = () => {}; console.error = () => {};
(async () => {
  const gen = new KnowledgeBaseGenerator({ outputPath: kbDir });
  await gen.processRepository(repoDir);
  const out = { searches: {}, stats: null, byType: {}, similar: {},
                answers: {} };
  for (const mode of cfg.modes) {
    const s = new KnowledgeBaseSearch(kbDir, mode);
    for (const q of cfg.queries) {
      const res = s.searchLocal(q, { limit: 1000000 });
      out.searches[`${mode}||${q}`] = res.map(r => ({
        path: r.documentPath, lang: r.documentLang, score: r.score,
        lines: r.lines, snippets: r.contextSnippets, preview: r.preview,
      }));
      // answer over the top-10 (reference-ordered) results; we replay
      // the same inputs into our generate_answer for logic parity
      const res10 = s.searchLocal(q, { limit: 10 });
      out.answers[`${mode}||${q}`] = {
        inputs: res10.map(r => ({
          path: r.documentPath, lang: r.documentLang, score: r.score,
          snippets: r.contextSnippets, content: r.fullContent,
        })),
        result: s.generateAnswer(q, res10),
      };
    }
    if (mode === 'developer') {
      out.stats = s.getStatistics();
      for (const t of ['code', 'Python', 'web']) out.byType[t] = s.searchByType(t);
      for (const p of cfg.similarTargets) out.similar[p] = s.findSimilarFiles(p);
    }
  }
  log(JSON.stringify(out));
})();
"""
    cfg = {
        "queries": QUERIES,
        "modes": MODES,
        "similarTargets": [relpath_of(rows[3][0]), relpath_of(rows[10][0])],
    }
    proc = subprocess.run(
        ["node", "-e", node_script, "--", REPO_DIR, KB_DIR, json.dumps(cfg)],
        capture_output=True,
        text=True,
        cwd="/tmp",
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(proc.returncode)
    data = json.loads(proc.stdout)
    data["_meta"] = {
        "n_pages": N_PAGES,
        "queries": QUERIES,
        "modes": MODES,
        "similar_targets": cfg["similarTargets"],
        "relpath_to_url": mapping,
    }
    with open(OUT, "w", encoding="utf-8") as f:
        json.dump(data, f, indent=1)
    print(
        f"wrote {OUT}: {len(data['searches'])} search sets, "
        f"stats={data['stats'] is not None}"
    )


if __name__ == "__main__":
    main()
