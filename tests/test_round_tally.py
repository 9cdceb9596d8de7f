"""tools/round_tally.py cites the newest round's artifact by the round
number in its name: a fresh checkout gives every file one mtime."""

from __future__ import annotations

import os

from tools import round_tally


def test_newest_is_the_highest_round_when_mtimes_are_equal(tmp_path, monkeypatch):
    names = [
        "SUITE_r9.json",
        "SUITE_r15.json",
        "SUITE_r14.json",
        "DRIVER_EQUIV_r15_inherited.txt",
        "DRIVER_EQUIV_r16_sf0001.txt",
        "DRIVER_EQUIV_r16.txt",
        "SCALE_STORY_r13.json",
        "SCALE_STORY_r16.json",
    ]
    for name in names:
        (tmp_path / name).write_text("{}")
        os.utime(tmp_path / name, (1_000_000_000, 1_000_000_000))
    monkeypatch.setattr(round_tally, "ROOT", str(tmp_path))
    newest = {p: os.path.basename(round_tally._newest(p)) for p in (
        "SUITE_r*.json", "DRIVER_EQUIV_r*.txt", "SCALE_STORY_r*.json")}
    assert newest == {
        "SUITE_r*.json": "SUITE_r15.json",
        "DRIVER_EQUIV_r*.txt": "DRIVER_EQUIV_r16.txt",
        "SCALE_STORY_r*.json": "SCALE_STORY_r16.json",
    }
