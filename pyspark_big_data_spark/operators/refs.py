"""Named refs (tags) over versioned snapshots — Iceberg-style release
pins for operators/versioned.py.

A TAG is a named immutable pointer to a committed version::

    root/_refs/<name>.json   {"version": N, "note": ...}

Tags give snapshots stable, human-meaningful addresses ("the corpus
release the 2026-07 model trained on") that survive the version
counter's churn, and they PROTECT their target from the retention
vacuum: ``expire_versions`` consults the ref store and never deletes a
tagged version, exactly like the table formats' ref-based retention —
so an audit pin keeps its bytes while the untagged history around it
is reclaimed on schedule.

Commit discipline matches the rest of the versioned seam: a tag file
is staged and published with one rename, and the rename's
fail-on-existing-FILE semantics make tag creation first-writer-wins —
two racing ``create_tag("release", ...)`` calls cannot both succeed
(this is a file-onto-file rename, which fails cleanly on both
LocalFileSystem and HDFS — unlike the dir-onto-dir case write_version
has to verify, see its race note).

Tags are metadata-only: creating, reading, and deleting one touches a
few hundred bytes regardless of snapshot size.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from pyspark_big_data_spark import fs
from pyspark_big_data_spark.fs import _list_dir, list_numbered_dirs, read_json
from pyspark_big_data_spark.operators.versioned import list_versions, read_version

_REFS_DIR = "_refs"
_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,99}$")


def _refs_root(root: str) -> str:
    return f"{root.rstrip('/')}/{_REFS_DIR}"


def _tag_path(root: str, name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid tag name: {name!r}")
    return f"{_refs_root(root)}/{name}.json"


def create_tag(
    spark: SparkSession, root: str, name: str, version: int, note: str = ""
) -> dict:
    """Pin ``version`` under ``name``. Fails if the version is not
    committed or the tag already exists (tags are immutable — delete
    and recreate to move one, which is an auditable two-step on
    purpose)."""
    if version not in list_versions(spark, root):
        raise ValueError(f"cannot tag uncommitted version v={version} at {root}")
    target = _tag_path(root, name)
    if fs.exists(spark, target):
        raise ValueError(f"tag {name!r} already exists at {root}")
    fs.mkdirs(spark, _refs_root(root))
    import uuid

    nonce = uuid.uuid4().hex
    doc = {"version": int(version), "note": note, "writer": nonce}
    # writer-unique staging: with a SHARED staging name, two racing
    # creators of the same tag could interleave (A stages v1, B
    # overwrites the staging file with v2, A renames) and publish one
    # writer's doc under the other's success — uniqueness confines the
    # race to the rename
    staging = f"{_refs_root(root)}/.staging_{name}.{nonce[:12]}.json"
    fs.write_json(spark, staging, doc)
    # file-onto-file rename: first writer wins on HDFS, but POSIX
    # rename(2) silently overwrites (fs.py), so the rename's verdict
    # alone can't arbitrate the race. Read-back verification closes
    # it: each writer stamps a unique nonce into its doc and only
    # claims success if the published tag still carries ITS nonce
    # after the rename. A loser whose pin was overwritten sees the
    # winner's nonce and raises.
    if not fs.rename(spark, staging, target):
        fs.delete(spark, staging)
        raise ValueError(f"tag {name!r} was created concurrently at {root}")
    published = read_json(spark, target)
    if published.get("writer") != nonce:
        raise ValueError(f"tag {name!r} was created concurrently at {root}")
    return doc


def read_tag(spark: SparkSession, root: str, name: str) -> int:
    """Resolve a tag to its pinned version; raises if absent."""
    target = _tag_path(root, name)
    if not fs.exists(spark, target):
        raise FileNotFoundError(f"no tag {name!r} at {root}")
    return int(read_json(spark, target)["version"])


def list_tags(spark: SparkSession, root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for fname, is_dir in _list_dir(spark, _refs_root(root))[1]:
        if is_dir or not fname.endswith(".json") or fname.startswith("."):
            continue
        doc = read_json(spark, f"{_refs_root(root)}/{fname}")
        out[fname[: -len(".json")]] = int(doc["version"])
    return out


def delete_tag(spark: SparkSession, root: str, name: str) -> None:
    target = _tag_path(root, name)
    if not fs.exists(spark, target):
        raise FileNotFoundError(f"no tag {name!r} at {root}")
    fs.delete(spark, target)


def read_by_tag(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Time travel by name: read the snapshot a tag pins."""
    return read_version(spark, root, read_tag(spark, root, name))


# ---------------------------------------------------------------------------
# BRANCHES: mutable named refs (r10) — the other half of the Iceberg
# ref model. Commits land in the same global version log (every
# version number is unique dataset-wide), the branch just tracks which
# commit is ITS head. Isolation is BY REF: read_branch(name) follows
# the pointer, and a branch APPEND bases on the BRANCH head (not the
# global latest), so two branches grow divergent chains over a shared
# ancestry without copying it. ``latest_version`` remains "the newest
# commit on ANY branch" — the commit log, not a branch view — which is
# exactly Iceberg's snapshot-log-vs-ref split. Retention protects
# every branch head and (via the chain walk in expire_versions) its
# whole ancestry.
#
# Storage (r11): a branch is an append-only SEQUENCE LOG, not a
# mutable pointer file::
#
#     root/_refs/branches/<name>/s=0/doc.json   (create)
#     root/_refs/branches/<name>/s=1/doc.json   (first repoint)
#     ...
#
# The head is the highest committed sequence entry. Every repoint
# publishes s=K+1 by the SAME verified dir-rename as write_version
# (commit_staged), so compare-and-set is arbitrated by an IMMUTABLE
# artifact: at most one writer can ever own s=K+1, and a loser always
# observes its loss — the r10 advice's lost-update window (two writers
# passing a check-then-write on a mutable pointer, the second silently
# burying the first) is structurally gone. Entries are a few hundred
# bytes; delete_branch reclaims the whole log.
# ---------------------------------------------------------------------------

_BRANCHES_DIR = "branches"


class BranchConflict(RuntimeError):
    """An optimistic branch update lost its race: the head moved after
    the caller read it (or another writer repointed concurrently)."""


def _branch_dir(root: str, name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid branch name: {name!r}")
    return f"{_refs_root(root)}/{_BRANCHES_DIR}/{name}"


def _branch_state(
    spark: SparkSession, root: str, name: str
) -> tuple[int, dict]:
    """``(seq, doc)`` of the branch's newest committed log entry."""
    bdir = _branch_dir(root, name)
    seqs = list_numbered_dirs(spark, bdir, "s=")
    if not seqs:
        raise FileNotFoundError(f"no branch {name!r} at {root}")
    seq = seqs[-1]
    return seq, read_json(spark, f"{bdir}/s={seq}/doc.json")


def _commit_branch_entry(
    spark: SparkSession, root: str, name: str, seq: int, doc: dict
) -> bool:
    """Publish ``doc`` as log entry ``s=seq`` via the verified rename;
    False when another writer owns that sequence slot (the CAS loss)."""
    bdir = _branch_dir(root, name)
    fs.mkdirs(spark, bdir)
    # writer-unique staging: racers must never share staged bytes
    staging = f"{bdir}/.staging_{doc['writer'][:16]}"
    fs.delete(spark, staging)
    fs.write_json(spark, f"{staging}/doc.json", doc)
    return fs.commit_staged(spark, bdir, staging, seq, prefix="s=")


def create_branch(
    spark: SparkSession, root: str, name: str, version: int
) -> dict:
    """Create a branch pointing at ``version``. First-writer-wins: the
    create is the commit of log entry s=0, so two racing creators
    cannot both succeed (an existing branch is never silently
    repointed by a create — use update_branch)."""
    import uuid

    if version not in list_versions(spark, root):
        raise ValueError(
            f"cannot branch from uncommitted version v={version} at {root}"
        )
    if list_numbered_dirs(spark, _branch_dir(root, name), "s="):
        raise ValueError(f"branch {name!r} already exists at {root}")
    doc = {"version": int(version), "seq": 0, "writer": uuid.uuid4().hex}
    if not _commit_branch_entry(spark, root, name, 0, doc):
        raise ValueError(f"branch {name!r} was created concurrently at {root}")
    return doc


def branch_head(spark: SparkSession, root: str, name: str) -> int:
    return int(_branch_state(spark, root, name)[1]["version"])


def list_branches(spark: SparkSession, root: str) -> dict[str, int]:
    broot = f"{_refs_root(root)}/{_BRANCHES_DIR}"
    out: dict[str, int] = {}
    for name, is_dir in _list_dir(spark, broot)[1]:
        if not is_dir or name.startswith("."):
            continue
        seqs = list_numbered_dirs(spark, f"{broot}/{name}", "s=")
        if not seqs:
            continue  # an empty dir is an uncommitted create: invisible
        doc = read_json(spark, f"{broot}/{name}/s={seqs[-1]}/doc.json")
        out[name] = int(doc["version"])
    return out


def update_branch(
    spark: SparkSession,
    root: str,
    name: str,
    new_version: int,
    expected_head: int,
) -> None:
    """Compare-and-set repoint: moves ``name`` to ``new_version`` iff
    its head still equals ``expected_head`` — raises BranchConflict
    otherwise. The set is the commit of an immutable log entry at the
    next sequence number, so the CAS is ARBITRATED, not just checked:
    two writers that both pass the expected_head comparison race on
    the same s=K+1 rename and exactly one can win; the loser raises
    instead of silently burying the winner's repoint (r10 advice
    item). The loser re-reads, rebases, and retries — exactly the
    transactions.py discipline."""
    import uuid

    if new_version not in list_versions(spark, root):
        raise ValueError(
            f"cannot point branch at uncommitted version v={new_version}"
        )
    seq, doc = _branch_state(spark, root, name)
    current = int(doc["version"])
    if current != expected_head:
        raise BranchConflict(
            f"branch {name!r} moved: expected head v={expected_head}, "
            f"found v={current}"
        )
    new_doc = {
        "version": int(new_version),
        "seq": seq + 1,
        "writer": uuid.uuid4().hex,
    }
    if not _commit_branch_entry(spark, root, name, seq + 1, new_doc):
        raise BranchConflict(
            f"branch {name!r} was updated concurrently at {root} "
            f"(lost the s={seq + 1} commit race)"
        )


def delete_branch(spark: SparkSession, root: str, name: str) -> None:
    bdir = _branch_dir(root, name)
    if not fs.exists(spark, bdir):
        raise FileNotFoundError(f"no branch {name!r} at {root}")
    fs.delete(spark, bdir)


def prune_branch_log(
    spark: SparkSession, root: str, name: str, keep_last: int = 100
) -> list[int]:
    """Retention for a branch's repoint log: delete every committed
    ``s=K`` entry except the newest ``keep_last`` (>= 1), plus dead
    staging dirs, and return the pruned sequence numbers. The HEAD is
    never pruned (the branch stays resolvable); older entries are
    audit history only, a few hundred bytes each — this exists so a
    hot branch repointed thousands of times a day has a bounded log,
    like any other metadata retention here. Dead staging = any
    ``.staging_*`` dir (each is writer-unique; one survives a crash at
    most until its writer's CAS seq is taken, after which it can never
    publish — sweeping ALL of them is safe because a LIVE writer's
    rename has either already happened or will simply lose its CAS and
    retry from scratch)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    bdir = _branch_dir(root, name)
    seqs = list_numbered_dirs(spark, bdir, "s=")
    if not seqs:
        raise FileNotFoundError(f"no branch {name!r} at {root}")
    pruned = seqs[:-keep_last] if len(seqs) > keep_last else []
    for s in pruned:
        fs.delete(spark, f"{bdir}/s={s}")
    for n, is_dir in _list_dir(spark, bdir)[1]:
        if is_dir and n.startswith(".staging_"):
            fs.delete(spark, f"{bdir}/{n}")
    return pruned


def read_branch(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a branch's head snapshot (chain-resolved like any read)."""
    return read_version(spark, root, branch_head(spark, root, name))


def commit_to_branch(
    df: DataFrame,
    root: str,
    name: str,
    append: bool = False,
    expected_head: int | None = None,
    stats_cols: list[str] | None = None,
    allow_evolution: bool = False,
    manifest_extra: dict | None = None,
) -> int:
    """Commit ``df`` as a new version on branch ``name`` and repoint
    the branch — the two-phase (commit-then-CAS) that makes branch
    histories linear per branch while the version log stays global.
    With ``append=True`` the commit is a file-level APPEND based on
    the BRANCH head (not the global latest), which is what lets two
    branches grow divergent chains over shared ancestry with O(delta)
    writes. ``expected_head`` (default: the head read here) makes the
    whole operation optimistic: if another writer advanced the branch
    between read and repoint, BranchConflict fires and the data commit
    becomes an unreferenced version that retention reclaims — the
    loser's bytes never corrupt the branch."""
    from pyspark_big_data_spark.operators.versioned import write_version

    spark = df.sparkSession
    head = branch_head(spark, root, name)
    if expected_head is not None and head != expected_head:
        raise BranchConflict(
            f"branch {name!r} moved: expected head v={expected_head}, "
            f"found v={head}"
        )
    # append contract (schema exact-match / additive evolution, base
    # tombstone guard) is validated by write_version against the
    # pinned base on every commit retry
    new_v = write_version(
        df,
        root,
        stats_cols=stats_cols,
        manifest_extra=manifest_extra,
        _append=append,
        _base_override=head if append else None,
        _append_evolution=allow_evolution,
    )
    update_branch(spark, root, name, new_v, expected_head=head)
    return new_v


def _merge_reachable(
    spark: SparkSession, root: str, version: int, _cache: dict | None = None
) -> set[int]:
    """Every version whose ROWS are incorporated in ``version``: its
    own append chain plus, recursively, the chains of every merge
    commit's recorded ``merged_from`` head. This is the DAG ancestry a
    git commit gets from its two parents — the chain link is parent 1,
    the manifest's ``merged_from`` is parent 2 — and it is what lets a
    re-merge resolve to a noop and a sequential merge ship only the
    NEW delta instead of re-appending rows already merged."""
    from pyspark_big_data_spark.operators.versioned import (
        manifest,
        version_chain,
    )

    seen: set[int] = set()
    stack = [version]
    while stack:
        for v in version_chain(spark, root, stack.pop(), _cache=_cache):
            if v in seen:
                continue
            seen.add(v)
            mf = (manifest(spark, root, v, _cache=_cache) or {}).get(
                "merged_from"
            )
            if mf is not None and int(mf) not in seen:
                stack.append(int(mf))
    return seen


def merge_base(
    spark: SparkSession,
    root: str,
    version_a: int,
    version_b: int,
    _cache: dict | None = None,
    _reach_b: set[int] | None = None,
) -> int:
    """The three-way merge base: the NEWEST member of ``version_a``'s
    chain already incorporated in ``version_b`` (via its chain or past
    merges). Raises when the histories are unrelated (one side was
    rewritten from scratch — its chain no longer passes through any
    shared commit, so there is nothing sound to merge onto)."""
    from pyspark_big_data_spark.operators.versioned import version_chain

    reach_b = (
        _reach_b
        if _reach_b is not None
        else _merge_reachable(spark, root, version_b, _cache=_cache)
    )
    for v in version_chain(spark, root, version_a, _cache=_cache):  # newest first
        if v in reach_b:
            return v
    raise ValueError(
        f"v={version_a} and v={version_b} under {root} share no ancestor — "
        "unrelated histories (a full rewrite broke the chain); merge them "
        "with an explicit commit instead"
    )


def merge_branch(
    spark: SparkSession, root: str, source: str, into: str
) -> dict:
    """THREE-WAY branch merge with conflict detection — the piece that
    completes the branching story past ``fast_forward_branch``.
    Returns ``{"mode", "version", "base"}``.

    Resolution ladder (each rung metadata-checked before any data
    moves):

    - ``noop``: the source head is already in the target's ancestry —
      nothing to merge;
    - ``fast-forward``: the target head is an ancestor of the source
      head — metadata-only repoint, no new commit;
    - ``merge``: histories DIVERGED from a common base. Because branch
      commits are file-level APPENDS, the two sides touched DISJOINT
      FILES by construction, so the auto-merge is sound exactly like a
      git merge of non-overlapping hunks: commit the SOURCE side's
      added rows (``table_changes(base, source_head)`` — O(source
      delta), guards included) as one append onto the TARGET head,
      CAS-protected by the branch log. Source-side additive schema
      evolution merges (the append evolves the target the same way).

    A merge commit records its second parent in the manifest
    (``merged_from`` = the source head), so the ancestry is a true DAG:
    re-merging an already-merged branch is a noop, a branch that
    keeps appending after a merge ships ONLY the new delta next time
    (the base resolves to the previously-merged head, git-style), and
    a BACK-merge (A→B then B→A) ships only the far side's genuine
    appends — merge-commit PAYLOADS whose origin versions the target
    already reaches are skipped, never re-appended, and a payload that
    MIXES target-reachable and new origins (true criss-cross) is
    refused loudly rather than split.

    REFUSED loudly (the conflicts appends cannot arbitrate):

    - unrelated histories (no common ancestor — a rewrite on either
      side), via ``merge_base``;
    - deletion vectors on the source's divergent path (a delete is not
      an append; merging it needs row-level semantics — materialize or
      replay the delete on the target explicitly); vectors on the
      TARGET's chain are refused by the append guard itself;
    - target-side evolution the source delta does not carry (the
      additive append contract fails: merging would silently null a
      column the target guarantees).

    100 TB: the decision is manifest walks; the merge itself copies
    only the source-side delta bytes (the same bill a git-style rebase
    pays), never either snapshot."""
    from pyspark_big_data_spark.operators.deletes import (
        DELETES_DIR,
        POS_DELETES_DIR,
        _embedded_deletes_dir,
        _versions_with_vector_dirs,
        list_delete_commits,
        list_pos_delete_commits,
    )
    from pyspark_big_data_spark.operators.versioned import (
        manifest,
        table_changes,
        version_chain,
    )

    head_s = branch_head(spark, root, source)
    head_t = branch_head(spark, root, into)
    mcache: dict = {}  # one manifest read per version for the whole decision
    reach_t = _merge_reachable(spark, root, head_t, _cache=mcache)
    if head_s in reach_t:
        return {"mode": "noop", "version": head_t, "base": head_s}
    if head_t in _merge_reachable(spark, root, head_s, _cache=mcache):
        # DAG ancestry, not just the linear chain: a target head that
        # was previously MERGED into the source (merged_from parent) is
        # fully incorporated too, so the repoint is a pure fast-forward
        # — taking the merge path here would re-append the target's own
        # rows back onto itself (the back-merge duplication bug)
        fast_forward_branch(spark, root, into, head_s)
        return {"mode": "fast-forward", "version": head_s, "base": head_t}

    base = merge_base(spark, root, head_s, head_t, _cache=mcache, _reach_b=reach_t)
    chain_s = version_chain(spark, root, head_s, _cache=mcache)
    eq_vs = _versions_with_vector_dirs(spark, root, DELETES_DIR)
    pos_vs = _versions_with_vector_dirs(spark, root, POS_DELETES_DIR)
    for v in chain_s:
        if v == base:
            break
        if (
            (v in eq_vs and list_delete_commits(spark, root, v))
            or (v in pos_vs and list_pos_delete_commits(spark, root, v))
            or _embedded_deletes_dir(spark, root, v) is not None
        ):
            raise ValueError(
                f"branch {source!r} carries deletion vectors on v={v} "
                f"(diverged past the merge base v={base}); deletes are "
                "not appends — materialize or replay them explicitly "
                "before merging"
            )
    # The source side's NEW rows since the base. A plain append above
    # the base whose version is not target-reachable is new by
    # construction — but a MERGE COMMIT's delta dir is a PAYLOAD: a
    # copy of rows that originally landed on its merged_from side.
    # Shipping such a payload when the target already reaches those
    # origins re-appends rows the target has (back-merge: merge A→B
    # then B→A would double every previously-merged key), so each
    # chain member is classified by the ORIGIN of its rows:
    #   - plain append v ∉ reach(target)       → ship its delta dir
    #   - merge commit, origins ⊆ reach(target) → skip (pure duplicate)
    #   - merge commit, origins ∩ reach(target) = ∅ → ship
    #   - partial overlap                       → refuse loudly
    # where origins(v) = reach(merged_from) \ reach(merge base at the
    # time), recomputed deterministically from the DAG.
    ship_dirs: list[str] = []
    for i, v in enumerate(chain_s):
        if v == base or v in reach_t:
            break
        m = manifest(spark, root, v, _cache=mcache) or {}
        mf = m.get("merged_from")
        if mf is None:
            ship_dirs.append(f"{root.rstrip('/')}/v={v}")
            continue
        parent_v = chain_s[i + 1]
        base_v = merge_base(spark, root, int(mf), parent_v, _cache=mcache)
        origins = _merge_reachable(
            spark, root, int(mf), _cache=mcache
        ) - _merge_reachable(spark, root, base_v, _cache=mcache)
        if not origins or origins <= reach_t:
            continue  # payload rows all target-reachable — skip
        if origins & reach_t:
            raise ValueError(
                f"criss-cross merge at v={v} under {root}: its payload "
                f"mixes rows the target already has (origins "
                f"{sorted(origins & reach_t)}) with new ones — an "
                "append-level merge cannot split a payload; replay the "
                "missing commits onto the target explicitly"
            )
        ship_dirs.append(f"{root.rstrip('/')}/v={v}")
    if not ship_dirs:
        # everything above the base is target-reachable payload (the
        # back-merge tail case): record the merge as an EMPTY append
        # so future reachability resolves, shipping zero rows — with
        # the TARGET head's schema (the base's may predate additive
        # evolution on the target, and the append guard would refuse
        # a delta missing the evolved columns)
        delta = table_changes(spark, root, head_t, head_t)
    else:
        for d in ship_dirs:
            spark.catalog.refreshByPath(d)
        reader = spark.read
        if len(ship_dirs) > 1:
            reader = reader.option("mergeSchema", "true")  # evolved chains
        delta = reader.parquet(*ship_dirs)
    new_v = commit_to_branch(
        delta,
        root,
        into,
        append=True,
        expected_head=head_t,
        allow_evolution=True,
        manifest_extra={"merged_from": head_s, "merge_base": base},
    )
    return {"mode": "merge", "version": new_v, "base": base}


def fast_forward_branch(
    spark: SparkSession, root: str, name: str, to_version: int
) -> None:
    """Fast-forward merge: repoint ``name`` to ``to_version`` iff the
    branch's current head is a DAG ANCESTOR of the target — on the
    target's append chain OR incorporated through a past merge commit
    (``merged_from`` parent), exactly git's fast-forward rule — the
    only merge that needs no data semantics, so it is metadata-only
    and always safe. Divergent histories are refused: merging them
    means deciding row-level semantics (union? last-writer? keyed
    MERGE?), which is the caller's job via an explicit
    commit_to_branch of the merged content. The repoint itself is the
    optimistic CAS of update_branch, so a concurrent advance still
    raises BranchConflict instead of being clobbered."""
    head = branch_head(spark, root, name)
    if to_version == head:
        return  # already there
    if head not in _merge_reachable(spark, root, to_version):
        raise ValueError(
            f"cannot fast-forward branch {name!r}: its head v={head} is "
            f"not an ancestor of v={to_version} (divergent histories need "
            "an explicit merge commit)"
        )
    update_branch(spark, root, name, to_version, expected_head=head)


def _row_hash(keys: list[str], nonkey: list[str]):
    """md5 over the sorted non-key columns — the per-row payload
    fingerprint both sides of a keyed diff compare."""
    from pyspark.sql import functions as F

    return F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in sorted(nonkey)
            ],
        )
    )


def _keyed_diff(
    spark: SparkSession,
    root: str,
    base_v: int,
    head_v: int,
    keys: list[str],
    _base_proj=None,
):
    """The LAZY half of a keyed change extract: ``(old, new, j,
    stats)`` where ``j`` is the persisted narrow diff (not yet
    materialized) and ``stats`` is an unexecuted 1-row aggregate over
    it carrying the NULL-key guard counts and the changed-row counts
    (``base_nulls, head_nulls, n_up, n_del``). Callers fuse several
    sides' stats into ONE action (merge_branch_keyed runs both sides'
    guards plus the overlap census as a single job tree) and then
    build the wide extracts via ``_keyed_extracts`` with the counts in
    hand."""
    from pyspark.sql import functions as F

    from pyspark_big_data_spark.operators.deletes import read_version_mor

    old = read_version_mor(spark, root, base_v)
    new = read_version_mor(spark, root, head_v)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"keyed merge needs matching schemas between v={base_v} and "
            f"v={head_v} (got {sorted(old.columns)} vs "
            f"{sorted(new.columns)}); reconcile evolution explicitly first"
        )
    nonkey = [c for c in new.columns if c not in keys]
    h = _row_hash(keys, nonkey)
    o = (
        _base_proj
        if _base_proj is not None
        else old.select(*keys, h.alias("__oh"), F.lit(1).alias("__o"))
    )
    n = new.select(*keys, h.alias("__nh"), F.lit(1).alias("__n"))
    j = o.join(n, keys, "full_outer").persist()
    up_cond = F.col("__o").isNull() | (F.col("__oh") != F.col("__nh"))
    del_cond = F.col("__n").isNull()
    null_any = None
    for k in keys:
        c = F.col(k).isNull()
        null_any = c if null_any is None else (null_any | c)
    stats = j.agg(
        F.coalesce(
            F.sum((null_any & F.col("__o").isNotNull()).cast("long")), F.lit(0)
        ).alias("base_nulls"),
        F.coalesce(
            F.sum((null_any & F.col("__n").isNotNull()).cast("long")), F.lit(0)
        ).alias("head_nulls"),
        F.coalesce(F.sum(up_cond.cast("long")), F.lit(0)).alias("n_up"),
        F.coalesce(F.sum(del_cond.cast("long")), F.lit(0)).alias("n_del"),
    )
    return old, new, j, stats


def _guard_null_keys(j, keys, root, base_nulls: int, head_nulls: int) -> None:
    """Refuse NULL merge keys loudly (they would silently vanish from
    the equi-extracts); unpersists the diff on refusal."""
    for label, cnt in (("base", base_nulls), ("head", head_nulls)):
        if cnt:
            j.unpersist()
            raise ValueError(
                f"keyed merge found NULL {keys} key(s) in the {label} "
                f"snapshot under {root}; key-level merge semantics need "
                "non-null keys — clean or re-key the rows first"
            )


def _keyed_extracts(old, new, j, keys, n_up: int, n_del: int):
    """The wide extracts over a materialized diff: ``(upserts, deleted,
    changed_keys)``. The changed-key sets are PRICED broadcasts (r14;
    guide §3.1): post-diff they are CDC-sized in the merge workloads
    this serves, so the head/base MOR states stream through
    BroadcastHashJoin LeftSemi with no exchange of the big side —
    above the threshold the hint is dropped and AQE plans the shuffle
    join as before."""
    from pyspark.sql import functions as F

    from pyspark_big_data_spark.operators.deletes import (
        BROADCAST_THRESHOLD_ROWS,
    )

    up_cond = F.col("__o").isNull() | (F.col("__oh") != F.col("__nh"))
    del_cond = F.col("__n").isNull()
    upsert_keys = j.filter(up_cond).select(*keys)
    deleted_keys = j.filter(del_cond).select(*keys)
    uk = (
        F.broadcast(upsert_keys)
        if n_up <= BROADCAST_THRESHOLD_ROWS
        else upsert_keys
    )
    dk = (
        F.broadcast(deleted_keys)
        if n_del <= BROADCAST_THRESHOLD_ROWS
        else deleted_keys
    )
    upserts = new.join(uk, keys, "left_semi")
    deleted = old.join(dk, keys, "left_semi")
    changed = upsert_keys.unionByName(deleted_keys).distinct()
    return upserts, deleted, changed


def _keyed_changes(
    spark: SparkSession,
    root: str,
    base_v: int,
    head_v: int,
    keys: list[str],
    _base_proj=None,
):
    """Key-level change extract between the MERGE-ON-READ states of two
    chain-related versions: ``(upserts, deleted, changed_keys, j)``
    where ``upserts`` are the head's rows for inserted-or-updated keys,
    ``deleted`` the base's rows for keys gone at the head,
    ``changed_keys`` the union of both key sets, and ``j`` the
    PERSISTED narrow diff frame backing all three (the caller
    unpersists it when done). One co-partitioned full-outer join on
    the key over NARROW ``(keys, payload-hash)`` projections — the
    wide rows never cross the exchange (guide: project before the
    shuffle); unchanged keys (the vast majority at 100 TB) never leave
    their joined partition. The NULL-key refusals ride the same
    persisted pass instead of two extra full-scan probe jobs.

    ``_base_proj``: the base side's already-persisted ``(keys, __oh,
    __o)`` projection — ``merge_branch_keyed`` diffs BOTH branch heads
    against the same merge base, so it computes/persists that
    projection once (hash-partitioned by the keys, so both sides' diff
    joins reuse ONE exchange of the base) and passes it to both
    extracts.

    Returns ``(upserts, deleted, changed_keys, j, n_changed_rows)``
    where ``n_changed_rows`` is the diff's changed ROW count
    (upserts + deletes; equals the changed KEY count whenever keys are
    unique per snapshot) — priced by the same aggregate as the NULL
    guard, it sizes the extract broadcasts and lets the caller prove a
    changeset empty without another job. (merge_branch_keyed uses the
    split halves — _keyed_diff / _keyed_extracts — directly, fusing
    both sides' guard aggregates and the overlap census into ONE
    action; this composition keeps the one-sided contract for tests
    and tools.)"""
    old, new, j, stats = _keyed_diff(
        spark, root, base_v, head_v, keys, _base_proj=_base_proj
    )
    row = stats.collect()[0]
    _guard_null_keys(j, keys, root, row["base_nulls"], row["head_nulls"])
    upserts, deleted, changed = _keyed_extracts(
        old, new, j, keys, int(row["n_up"]), int(row["n_del"])
    )
    return upserts, deleted, changed, j, int(row["n_up"] + row["n_del"])


def merge_branch_keyed(
    spark: SparkSession, root: str, source: str, into: str, key
) -> dict:
    """KEY-LEVEL three-way branch merge — the resolution for the cases
    the append-level ``merge_branch`` refuses (deletion vectors or
    MERGE commits on a divergent path): compute each side's key-level
    changes since the merge base, prove the changed KEY SETS disjoint,
    and replay the source side's changes onto the target as ONE
    MERGE-INTO-branch commit (updates + inserts + deletes, atomic
    delta+vector). Overlapping key sets are refused loudly with a
    sample of the conflicting keys — exactly git's line-level conflict,
    at key granularity — UNLESS both sides arrived at the identical
    end state for a key (same rows, or deleted on both): those merge
    cleanly with no replay, like git's identical-hunk rule (r13;
    ``n_identical`` in the result counts them).

    The merge commit records ``merged_from`` = the source head, so DAG
    ancestry composes with ``merge_branch``: a later back-merge
    fast-forwards, a re-merge is a noop.

    Resolution ladder shares the cheap rungs with ``merge_branch``
    (noop when already reachable, fast-forward when the target is a
    DAG ancestor); only the divergent rung differs — keyed replay
    instead of file-level append. 100 TB: the change extract is two
    MOR scans and one co-partitioned full-outer join per side (the
    price of row-level semantics the file-level path avoids); the
    commit ships only the changed rows."""
    keys = [key] if isinstance(key, str) else list(key)
    from pyspark.sql import functions as F

    from pyspark_big_data_spark.operators.merge import merge_to_branch

    head_s = branch_head(spark, root, source)
    head_t = branch_head(spark, root, into)
    mcache: dict = {}
    reach_t = _merge_reachable(spark, root, head_t, _cache=mcache)
    if head_s in reach_t:
        return {"mode": "noop", "version": head_t, "base": head_s}
    if head_t in _merge_reachable(spark, root, head_s, _cache=mcache):
        fast_forward_branch(spark, root, into, head_s)
        return {"mode": "fast-forward", "version": head_s, "base": head_t}

    base = merge_base(spark, root, head_s, head_t, _cache=mcache, _reach_b=reach_t)
    # BOTH sides diff against the same merge base: compute + persist
    # the base's narrow (keys, payload-hash) projection ONCE and hand
    # it to both extracts — the base MOR state is scanned once, not
    # twice. (Measured r14 dead end, recorded in plans/r14/
    # keyed_diff_join_*: pre-hash-partitioning the pinned projection by
    # the merge keys does NOT let the diff joins reuse the cached
    # distribution — EnsureRequirements re-exchanges on top of the
    # InMemoryTableScan regardless, so the repartition only added an
    # exchange inside the cache build.)
    from pyspark_big_data_spark.operators.deletes import (
        BROADCAST_THRESHOLD_ROWS,
        read_version_mor,
    )

    base_state = read_version_mor(spark, root, base)
    base_nonkey = [c for c in base_state.columns if c not in keys]
    base_proj = base_state.select(
        *keys,
        _row_hash(keys, base_nonkey).alias("__oh"),
        F.lit(1).alias("__o"),
    ).persist()
    pinned = [base_proj]
    try:
        s_old, s_new, j_s, s_stats = _keyed_diff(
            spark, root, base, head_s, keys, _base_proj=base_proj
        )
        pinned.append(j_s)
        t_old, t_new, j_t, t_stats = _keyed_diff(
            spark, root, base, head_t, keys, _base_proj=base_proj
        )
        pinned.append(j_t)
        # ONE action runs both sides' NULL guards, both changed-row
        # censuses AND the overlap count (r14; guide §1.2): the three
        # 1-row aggregates cross-join into a single job tree that
        # materializes both pinned diffs once — this was three separate
        # actions, each rebuilding its subtree's broadcasts.
        up_cond = F.col("__o").isNull() | (F.col("__oh") != F.col("__nh"))
        del_cond = F.col("__n").isNull()
        s_keys_raw = j_s.filter(up_cond | del_cond).select(*keys)
        t_keys_raw = j_t.filter(up_cond | del_cond).select(*keys)
        ov_cnt = (
            s_keys_raw.distinct()
            .join(t_keys_raw.distinct(), keys, "left_semi")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        stats = (
            s_stats.select(*[F.col(c).alias(f"s_{c}") for c in s_stats.columns])
            .crossJoin(
                t_stats.select(
                    *[F.col(c).alias(f"t_{c}") for c in t_stats.columns]
                )
            )
            .crossJoin(ov_cnt)
            .collect()[0]
        )
        _guard_null_keys(
            j_s, keys, root, stats["s_base_nulls"], stats["s_head_nulls"]
        )
        _guard_null_keys(
            j_t, keys, root, stats["t_base_nulls"], stats["t_head_nulls"]
        )
        s_n_changed = int(stats["s_n_up"] + stats["s_n_del"])
        s_up, s_del, s_changed = _keyed_extracts(
            s_old, s_new, j_s, keys, int(stats["s_n_up"]), int(stats["s_n_del"])
        )
        # keys changed on BOTH branches are conflicts UNLESS both sides
        # arrived at the IDENTICAL end state (same rows, or both
        # deleted) — git merges those cleanly, so do we (r12 verdict
        # What's-wrong #1): they need no replay (the target already has
        # the change) and are excluded from the source changeset below.
        n_identical = 0
        identical = None
        n_overlap = int(stats["n_overlap"])
        if n_overlap:
            # rebuild the overlap set (cache-backed, rare path) with a
            # priced broadcast of the target-side keys
            t_side = (
                F.broadcast(t_keys_raw.distinct())
                if stats["t_n_up"] + stats["t_n_del"]
                <= BROADCAST_THRESHOLD_ROWS
                else t_keys_raw.distinct()
            )
            overlap = s_changed.join(t_side, keys, "left_semi").persist()
            pinned.append(overlap)
            # the overlap set is exact-counted: broadcast it into every
            # consumer below while it fits
            ov = (
                F.broadcast(overlap)
                if n_overlap <= BROADCAST_THRESHOLD_ROWS
                else overlap
            )
            s_state = s_new  # the diffs' head MOR frames are exactly
            t_state = t_new  # the end states — no need to re-plan them
            if s_state.columns != t_state.columns:
                # divergent schema evolution: rows cannot be identical
                diff_keys = overlap
            else:
                # both end states restricted to the overlapped keys are
                # O(|overlap|): pin them so the two exceptAll
                # directions don't re-scan the MOR states twice each
                s_rows = s_state.join(ov, keys, "left_semi").persist()
                t_rows = t_state.join(ov, keys, "left_semi").persist()
                pinned.extend([s_rows, t_rows])
                diff_keys = (
                    s_rows.exceptAll(t_rows)
                    .unionByName(t_rows.exceptAll(s_rows))
                    .select(*keys)
                    .distinct()
                )
            conflicts = [
                tuple(r[k] for k in keys) for r in diff_keys.limit(5).collect()
            ]
            if conflicts:
                raise ValueError(
                    f"keyed merge of {source!r} into {into!r} conflicts: both "
                    f"branches changed key(s) {conflicts} since base v={base} "
                    "and the end states differ; resolve by an explicit merge "
                    "commit on one branch first"
                )
            identical = ov
            n_identical = n_overlap

        if identical is not None and s_n_changed == n_overlap:
            # every source-side changed ROW is an identical-on-both-
            # sides key (row count == overlap KEY count also proves the
            # changed keys unique), so the replay source is empty by
            # construction: skip the merge call instead of running a
            # full MERGE pipeline over provably-empty frames (r14).
            # merge_into returns exactly this for an all-noop source.
            res = {
                "version": None,
                "n_deleted": 0,
                "n_updated": 0,
                "n_inserted": 0,
            }
        else:
            if identical is not None:
                s_up = s_up.join(identical, keys, "left_anti")
                s_del = s_del.join(identical, keys, "left_anti")
            src = s_up.withColumn("__del", F.lit(False)).unionByName(
                s_del.withColumn("__del", F.lit(True))
            )
            res = merge_to_branch(
                spark,
                root,
                into,
                src,
                keys if len(keys) > 1 else keys[0],
                when_matched_update="NOT source.__del",
                when_matched_delete="source.__del",
                when_not_matched_insert="NOT source.__del",
                manifest_extra={
                    "merged_from": head_s,
                    "merge_base": base,
                    "merge_mode": "keyed",
                },
            )
    finally:
        for df in pinned:
            df.unpersist()
    mode = "keyed-merge" if res["version"] is not None else "noop"
    out_v = res["version"] if res["version"] is not None else head_t
    return {"mode": mode, "version": out_v, "base": base,
            "n_identical": n_identical, **{
                k: res[k] for k in ("n_deleted", "n_updated", "n_inserted")
            }}
