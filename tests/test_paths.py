"""The code carries no absolute path of the checkout it lives in: every
file it reads is located relative to ``__file__``, so a clone anywhere
runs the same."""

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_no_checkout_absolute_paths():
    files = [*(ROOT / "profet_spark").rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
             ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    offenders = [str(f.relative_to(ROOT)) for f in files
                 if str(ROOT) in f.read_text(encoding="utf-8")]
    assert not offenders, f"checkout-absolute paths in {offenders}"
