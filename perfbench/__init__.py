"""Layered benchmark of the pages -> tiers -> store -> serve system; see run.py."""
