#!/usr/bin/env python3
"""Regenerate SURVEY.md's generated key index (the '### §2b' section).

Usage: python3 tools/gen_survey_index.py <verify-out-dir>
where <verify-out-dir> is a `graft.Verify` dump (needs oracle_sql.json).

The index is one row per SparkEntry.queries key with the file:line of
its entry — the one `"<key>" -> QueryKey(...)` line that holds both the
key's Spark body and its oracle SQL, in whichever query-family file owns
it. The families are found by scanning src/main, so a new family file
needs no edit here. SurveyIndexSpec asserts the table's key set equals
SparkEntry.queries.keySet, so the section cannot silently drift.
"""
import glob
import json
import re
import sys

MARKER = "### §2b Generated key index"
ENTRY = re.compile(r'^\s*"([a-z0-9_]+)"\s*->\s*QueryKey\(')


def main(out_dir: str) -> None:
    keys = sorted(json.load(open(f"{out_dir}/oracle_sql.json")))
    loc = {}
    for src in sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)):
        for i, line in enumerate(open(src), start=1):
            m = ENTRY.match(line)
            if not m:
                continue
            if m.group(1) in loc:
                sys.exit(f"key {m.group(1)} has two entries: {loc[m.group(1)]}, {src}:{i}")
            loc[m.group(1)] = f"{src}:{i}"
    missing = [k for k in keys if k not in loc]
    if missing:
        sys.exit(f"keys without a QueryKey entry: {missing}")
    stale = sorted(set(loc) - set(keys))
    if stale:
        sys.exit(f"QueryKey entries missing from the oracle dump: {stale}")
    rows = "\n".join(f"| `{k}` | {loc[k]} |" for k in keys)
    section = (
        f"{MARKER} (tools/gen_survey_index.py)\n\n"
        f"One row per `SparkEntry.queries` key — the mechanical audit\n"
        f"surface for the {len(keys)}-key correctness gate. Each key is one\n"
        f"`QueryKey` entry holding its Spark body and its DuckDB oracle, in\n"
        f"the query-family file that owns it; `SurveyIndexSpec` asserts this\n"
        f"table's key set equals `SparkEntry.queries.keySet`, so it cannot drift.\n\n"
        f"| key | entry |\n|---|---|\n{rows}\n"
    )
    survey = open("SURVEY.md").read()
    if MARKER in survey:
        # replace the existing section (ends at the next '## ' heading,
        # or end-of-file if §2b is ever the last section — ADVICE r17)
        start = survey.index(MARKER)
        end = survey.find("\n## ", start)
        if end < 0:
            end = len(survey)
        survey = survey[:start] + section + survey[end:]
    else:
        anchor = "\n## §3 Data model"
        survey = survey.replace(anchor, "\n" + section + anchor, 1)
    open("SURVEY.md", "w").write(survey)
    print(f"indexed {len(keys)} keys")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/v17d")
