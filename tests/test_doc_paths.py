"""Every repo path the docs name in code spans or code blocks must exist,
so a deleted script, module or artifact cannot leave a dangling command
or reference behind."""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = [
    "README.md",
    "SURVEY.md",
    "FIXTURES.md",
    *sorted(glob.glob("docs/*.md", root_dir=REPO)),
    os.path.join(".claude", "skills", "verify", "SKILL.md"),
]
CODE = re.compile(r"```.*?```|`[^`\n]+`", re.S)
# a package module may be named with or without its package directory
PATH = re.compile(
    r"(?<![\w/.$])(?:scripts/[\w-]+\.py|bench\.py|perfbench/[\w./-]*"
    r"|BENCH/[\w.-]+|tests/[\w-]+\.py"
    r"|(?:ocr_corrector_spark/)?(?P<module>(?:(?:sources|operators|functions"
    r"|plans|streaming|oracle|assets)/\w+|session|driver_cds|pyworker)\.py))"
)


def _named_paths():
    for doc in DOCS:
        with open(os.path.join(REPO, doc), encoding="utf-8") as f:
            text = f.read()
        for span in CODE.findall(text):
            for m in PATH.finditer(span):
                module = m.group("module")
                path = f"ocr_corrector_spark/{module}" if module else m.group()
                yield doc, path.rstrip(".")


def test_docs_name_only_existing_paths():
    named = list(_named_paths())
    assert len({d for d, _ in named}) >= 2  # the pattern still sees the docs
    missing = sorted(
        {(d, p) for d, p in named if not os.path.exists(os.path.join(REPO, p))}
    )
    assert not missing, missing
