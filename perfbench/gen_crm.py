"""Seeded CRM corpus: snapshot 1, delta snapshot 2 and their expected counts.

Writes the seven raw JSON-lines files the pipeline reads (users, contacts,
companies, deals, engagements, email_events, form_submissions; envelope and
flat shapes as in FIXTURES.md section A) for two snapshots taken a week
apart. Snapshot 2 is a full re-extract with property changes, soft deletes
(records missing), new records, association churn and a 90-day email/form
lookback window that re-sends the events snapshot 1 already held.

``expected`` mirrors the pipeline's semantics on this corpus (edge build,
email resolution, endpoint validation, SCD classification, trackable-edge
diff, immutable-edge carry-over, append-only event tables), so the counts a
load leaves in its state directory can be checked exactly.
"""
import hashlib
import json
import os

import numpy as np

DAY_MS = 86_400_000
T1 = 1_717_200_000_000          # 2024-06-01T00:00:00Z, snapshot 1 extract
T2 = T1 + 7 * DAY_MS            # snapshot 2, a week later
LOOKBACK_MS = 90 * DAY_MS
IMMUTABLE = {"PERFORMED", "SUBMITTED_BY", "ON_PAGE", "FOR_CAMPAIGN",
             "CLICKED_URL", "VISITED"}
NODE_TABLES = ["users", "contacts", "companies", "deals", "activities"]

# Base volumes of one reference portal (BASELINE.md), scaled by `portal`.
BASE = {"users": 40, "companies": 6877, "contacts": 7435, "deals": 1970,
        "engagements": 3067, "opens": 4094, "clicks": 201, "forms": 600,
        "campaigns": 24, "pages": 300}

STAGES = ["appointmentscheduled", "qualifiedtobuy", "presentationscheduled",
          "decisionmakerboughtin", "contractsent", "closedwon", "closedlost"]
LIFECYCLE = ["subscriber", "lead", "marketingqualifiedlead",
             "salesqualifiedlead", "opportunity", "customer"]
INDUSTRIES = ["COMPUTER_SOFTWARE", "RETAIL", "FINANCIAL_SERVICES", "HOSPITAL",
              "MARKETING", "CONSTRUCTION", "EDUCATION", "LOGISTICS"]
TITLES = ["CEO", "CTO", "VP Sales", "Engineer", "Analyst", "Manager",
          "Director", "Consultant"]
SOURCES = ["ORGANIC_SEARCH", "PAID_SEARCH", "EMAIL_MARKETING", "DIRECT_TRAFFIC",
           "SOCIAL_MEDIA", "REFERRALS"]
CITIES = ["Boston", "Chicago", "Denver", "Austin", "Seattle", "Miami"]
ENG_TYPES = ["MEETING", "CALL", "NOTE", "TASK"]


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _pick(rng, n, frac, exclude=()):
    pool = np.setdiff1d(np.arange(n), np.fromiter(exclude, int, len(exclude)))
    k = min(len(pool), max(1, int(round(n * frac))))
    return set(int(i) for i in rng.choice(pool, k, replace=False))


def _zipf_owner(rng, n_users, size):
    """Owner indices skewed so a few owners hold most records. The Zipf
    exponent 1.1 is an assumption; no measured ownership spread is at hand."""
    w = 1.0 / np.arange(1, n_users + 1) ** 1.1
    return rng.choice(n_users, size, p=w / w.sum())


class Corpus:
    def __init__(self, portal: float, seed: int):
        rng = np.random.default_rng(seed)
        self.rng = rng
        n = {k: max(3, int(round(v * portal))) for k, v in BASE.items()}
        self.n = n
        self.pages = [f"https://www.example{p % 50}.com/page/{p}"
                      for p in range(n["pages"])]
        self.campaigns = [str(9000 + c) for c in range(n["campaigns"])]
        self.users = [{
            "id": f"user_{u}", "email": f"owner{u}@corp.example",
            "first_name": f"Owner{u}", "last_name": "Seller",
            "archived": False, "created_at": "2023-01-01T10:00:00Z",
            "updated_at": "2023-06-01T10:00:00Z", "user_id": str(100 + u),
            "teams": [{"id": str(u % 3), "name": ["Sales", "CS", "Growth"][u % 3]}],
        } for u in range(n["users"])]
        nu = n["users"]
        self.companies = {}
        for j, o in enumerate(_zipf_owner(rng, nu, n["companies"])):
            self.companies[f"co{j}"] = {"props": {
                "name": f"Company {j}", "domain": f"WWW.Example{j}.com",
                "industry": INDUSTRIES[int(rng.integers(len(INDUSTRIES)))],
                "numberofemployees": str(int(rng.integers(1, 5000))),
                "annualrevenue": f"{rng.uniform(1e4, 5e7):.2f}",
                "createdate": str(T1 - int(rng.integers(30, 900)) * DAY_MS),
                "hubspot_owner_id": f"user_{o}",
                "country": "US", "city": CITIES[j % len(CITIES)]}, "assoc": {}}
        self.contacts = {}
        owners = _zipf_owner(rng, nu, n["contacts"])
        for i in range(n["contacts"]):
            self.contacts[f"c{i}"] = {"props": self._contact_props(i, int(owners[i])),
                                      "assoc": {}}
        self.deals = {}
        nc = n["contacts"]
        for k, o in enumerate(_zipf_owner(rng, nu, n["deals"])):
            cs = rng.choice(nc, int(rng.integers(1, 3)), replace=False)
            self.deals[f"d{k}"] = {"props": {
                "dealname": f"Deal {k}", "amount": f"{rng.uniform(500, 250000):.2f}",
                "dealstage": STAGES[int(rng.integers(len(STAGES)))],
                "pipeline": "default",
                "closedate": str(T1 + int(rng.integers(-200, 200)) * DAY_MS),
                "createdate": str(T1 - int(rng.integers(10, 400)) * DAY_MS),
                "hs_is_closed_won": "false",
                "hubspot_owner_id": f"user_{o}",
                "hs_forecast_probability": f"{rng.uniform(0, 1):.2f}"},
                "assoc": {"contacts": [f"c{c}" for c in sorted(cs)],
                          "companies": [f"co{int(rng.integers(n['companies']))}"]}}
        self.engagements = {}
        for m in range(n["engagements"]):
            self.engagements[f"e{m}"] = self._engagement(m, T1)
        # email events and form submissions spread over the lookback window
        self.events = [self._event(t) for t in self._times(
            n["opens"] + n["clicks"] + n["opens"] // 4, T1 - LOOKBACK_MS, T1)]
        self.forms = [self._form(t) for t in self._times(
            n["forms"], T1 - LOOKBACK_MS, T1)]

    # ---- record builders -------------------------------------------------
    def _contact_props(self, i, owner):
        rng = self.rng
        p = {"email": f"contact{i}@example{i % 997}.com",
             "firstname": f"First{i}", "lastname": f"Last{i % 311}",
             "jobtitle": TITLES[int(rng.integers(len(TITLES)))],
             "lifecyclestage": LIFECYCLE[int(rng.integers(len(LIFECYCLE)))],
             "createdate": str(T1 - int(rng.integers(1, 700)) * DAY_MS),
             "lastmodifieddate": "2024-05-01T00:00:00Z",
             "hubspot_owner_id": f"user_{owner}",
             "hs_email_open": str(int(rng.integers(0, 40))),
             "hs_email_click": str(int(rng.integers(0, 10))),
             "hs_analytics_num_visits": str(int(rng.integers(0, 90))),
             "hs_analytics_source": SOURCES[int(rng.integers(len(SOURCES)))],
             "country": "US", "city": CITIES[i % len(CITIES)]}
        if rng.random() < 0.9:
            p["associatedcompanyid"] = f"co{int(rng.integers(self.n['companies']))}"
        if rng.random() < 0.7:
            p["hs_analytics_first_url"] = self.pages[int(rng.integers(len(self.pages)))]
        return p

    def _engagement(self, m, before):
        rng = self.rng
        t = ENG_TYPES[m % 4]
        ts = str(before - int(rng.integers(1, 120 * DAY_MS)))
        p = {"hs_engagement_type": t, "hs_timestamp": ts, "hs_createdate": ts,
             "hs_lastmodifieddate": ts}
        if t == "MEETING":
            p.update(hs_meeting_title=f"Meeting {m}", hs_meeting_body="agenda",
                     hs_meeting_start_time=ts,
                     hs_meeting_end_time=str(int(ts) + 3_600_000))
        elif t == "CALL":
            p.update(hs_call_title=f"Call {m}", hs_call_body="notes",
                     hs_call_duration=str(int(rng.integers(60, 3600))))
        elif t == "NOTE":
            p.update(hs_note_body=f"note {m}")
        else:
            p.update(hs_task_subject=f"Task {m}", hs_task_body="todo",
                     hs_task_status="NOT_STARTED")
        a = {"contacts": [f"c{int(rng.integers(self.n['contacts']))}"]}
        if rng.random() < 0.4:
            a["deals"] = [f"d{int(rng.integers(self.n['deals']))}"]
        if rng.random() < 0.3:
            a["companies"] = [f"co{int(rng.integers(self.n['companies']))}"]
        return {"props": p, "assoc": a}

    def _times(self, k, lo, hi):
        return sorted(set(int(t) for t in self.rng.integers(lo, hi, k)))

    def _event(self, t):
        rng = self.rng
        r = rng.random()
        kind = "OPEN" if r < 0.8 else ("CLICK" if r < 0.84 else "SENT")
        c = int(rng.integers(self.n["contacts"]))
        e = {"event_type": kind, "recipient": f"contact{c}@example{c % 997}.com",
             "created": str(t),
             "emailCampaignId": self.campaigns[int(rng.integers(len(self.campaigns)))],
             "emailCampaignName": "Campaign", "subject": "Hello",
             "deviceType": "COMPUTER" if rng.random() < 0.7 else "MOBILE",
             "location": {"city": CITIES[c % len(CITIES)]}}
        if kind == "CLICK":
            e["url"] = self.pages[int(rng.integers(len(self.pages)))]
        return e

    def _form(self, t):
        rng = self.rng
        c = int(rng.integers(self.n["contacts"]))
        email = f"contact{c}@example{c % 997}.com"
        f = {"form_guid": f"g-{int(rng.integers(8))}", "form_name": "Contact Us",
             "submitted_at": str(t),
             "page_url": self.pages[int(rng.integers(len(self.pages)))],
             "page_title": "Contact", "ip_address": "10.0.0.1",
             "email": email if rng.random() < 0.8 else None,
             "values": [{"name": "email", "value": email},
                        {"name": "firstname", "value": f"First{c}"}]}
        return f

    # ---- snapshot 2 ------------------------------------------------------
    def delta(self):
        """Mutates the corpus into snapshot 2; returns the rows whose
        projected node columns changed, per node table."""
        rng, n = self.rng, self.n
        changed = {t: set() for t in NODE_TABLES}
        u = int(rng.integers(1, n["users"]))
        self.users[u] = dict(self.users[u], archived=True)
        changed["users"].add(f"user_{u}")
        nc = n["contacts"]
        retitle = _pick(rng, nc, 0.05)
        transfer = _pick(rng, nc, 0.02, retitle)
        move = _pick(rng, nc, 0.02, retitle | transfer)
        gone = _pick(rng, nc, 0.01, retitle | transfer | move)
        for i in retitle:
            p = self.contacts[f"c{i}"]["props"]
            p["jobtitle"] = TITLES[(TITLES.index(p["jobtitle"]) + 1) % len(TITLES)]
            changed["contacts"].add(f"c{i}")
        for i in transfer:
            p = self.contacts[f"c{i}"]["props"]
            o = int(p["hubspot_owner_id"].split("_")[1])
            p["hubspot_owner_id"] = f"user_{(o + 1) % n['users']}"
            changed["contacts"].add(f"c{i}")
        for i in move:  # association-only change: the contact row is unchanged
            p = self.contacts[f"c{i}"]["props"]
            p["associatedcompanyid"] = f"co{int(rng.integers(n['companies']))}"
        for i in gone:
            del self.contacts[f"c{i}"]
        for i in range(nc, nc + max(1, int(0.03 * nc))):
            self.contacts[f"c{i}"] = {"props": self._contact_props(
                i, int(_zipf_owner(rng, n["users"], 1)[0])), "assoc": {}}
        nco = n["companies"]
        for j in _pick(rng, nco, 0.03):
            p = self.companies[f"co{j}"]["props"]
            p["industry"] = INDUSTRIES[(INDUSTRIES.index(p["industry"]) + 1)
                                       % len(INDUSTRIES)]
            changed["companies"].add(f"co{j}")
        for j in _pick(rng, nco, 0.005, {int(k[2:]) for k in changed["companies"]}):
            del self.companies[f"co{j}"]
        nd = n["deals"]
        restage = _pick(rng, nd, 0.05)
        for k in restage:
            p = self.deals[f"d{k}"]["props"]
            p["dealstage"] = "closedwon"
            p["hs_is_closed_won"] = "true"
            changed["deals"].add(f"d{k}")
        for k in _pick(rng, nd, 0.03):  # association churn, row unchanged
            a = self.deals[f"d{k}"]["assoc"]["contacts"]
            if len(a) > 1:
                a.pop()
            else:
                c = f"c{int(rng.integers(nc))}"
                if c not in a:
                    a.append(c)
        for k in range(nd, nd + max(1, int(0.02 * nd))):
            self.deals[f"d{k}"] = {"props": {
                "dealname": f"Deal {k}", "amount": "1000.00",
                "dealstage": STAGES[0], "pipeline": "default",
                "createdate": str(T2 - DAY_MS), "hs_is_closed_won": "false",
                "hubspot_owner_id": "user_0", "hs_forecast_probability": "0.10"},
                "assoc": {"contacts": [f"c{int(rng.integers(nc))}"],
                          "companies": [f"co{int(rng.integers(nco))}"]}}
        ne = n["engagements"]
        for m in range(ne, ne + max(1, int(0.03 * ne))):
            self.engagements[f"e{m}"] = self._engagement(m, T2)
        # lookback re-extract: events still inside the window plus new ones
        lo = T2 - LOOKBACK_MS
        week = max(1, len(self.events) * 7 // 90)
        self.events = [e for e in self.events if int(e["created"]) >= lo] + \
            [self._event(t) for t in self._times(week, T1 + 1, T2)]
        wk = max(1, len(self.forms) * 7 // 90)
        self.forms = [f for f in self.forms if int(f["submitted_at"]) >= lo] + \
            [self._form(t) for t in self._times(wk, T1 + 1, T2)]
        return changed

    # ---- output ----------------------------------------------------------
    def write(self, out):
        os.makedirs(out, exist_ok=True)

        def env(d):
            return [{"id": k, "properties": v["props"],
                     "created_at": "2024-01-01 00:00:00+00:00",
                     "updated_at": "2024-05-01 00:00:00+00:00",
                     "associations": {a: [{"id": i} for i in ids]
                                      for a, ids in v["assoc"].items()}}
                    for k, v in d.items()]
        files = {"users": self.users, "contacts": env(self.contacts),
                 "companies": env(self.companies), "deals": env(self.deals),
                 "engagements": env(self.engagements),
                 "email_events": self.events, "form_submissions": self.forms}
        size = 0
        for name, rows in files.items():
            path = os.path.join(out, f"{name}.json")
            with open(path, "w") as f:
                for r in rows:
                    f.write(json.dumps(r, separators=(",", ":")) + "\n")
            size += os.path.getsize(path)
        return size

    # ---- expected graph --------------------------------------------------
    def graph(self):
        """Node ids per label and the validated edge set, as the pipeline
        builds them from this snapshot."""
        by_email = {v["props"]["email"]: k for k, v in self.contacts.items()}
        opens, clicks = {}, {}
        for e in self.events:
            if e["event_type"] == "OPEN":
                opens["email_open_" + _md5("|".join(
                    [e["recipient"], e["emailCampaignId"], e["created"]]))] = e
            elif e["event_type"] == "CLICK":
                clicks["email_click_" + _md5("|".join(
                    [e["recipient"], e["emailCampaignId"], e["created"], e["url"]]))] = e
        forms = {}
        for f in self.forms:
            email = f["email"] or f["values"][0]["value"]
            forms["form_submission_" + _md5("|".join(
                [f["form_guid"], f["submitted_at"], email]))] = (f, email)
        pages = {e["url"] for e in clicks.values()} | \
            {f["page_url"] for f, _ in forms.values()} | \
            {v["props"]["hs_analytics_first_url"] for v in self.contacts.values()
             if "hs_analytics_first_url" in v["props"]}
        nodes = {
            "HUBSPOT_User": {u["id"] for u in self.users},
            "HUBSPOT_Contact": set(self.contacts), "HUBSPOT_Company": set(self.companies),
            "HUBSPOT_Deal": set(self.deals), "HUBSPOT_Activity": set(self.engagements),
            "HUBSPOT_EmailCampaign": {e["emailCampaignId"] for e in self.events},
            "HUBSPOT_WebPage": pages, "HUBSPOT_EmailOpenEvent": set(opens),
            "HUBSPOT_EmailClickEvent": set(clicks),
            "HUBSPOT_FormSubmission": set(forms)}
        C, CO, D, A, U = ("HUBSPOT_Contact", "HUBSPOT_Company", "HUBSPOT_Deal",
                          "HUBSPOT_Activity", "HUBSPOT_User")
        edges = set()
        for k, v in self.contacts.items():
            p = v["props"]
            if "associatedcompanyid" in p:
                edges.add(("WORKS_AT", C, k, CO, p["associatedcompanyid"]))
            edges.add(("OWNED_BY", C, k, U, p["hubspot_owner_id"]))
            if "hs_analytics_first_url" in p:
                edges.add(("VISITED", C, k, "HUBSPOT_WebPage", p["hs_analytics_first_url"]))
        for k, v in self.companies.items():
            edges.add(("OWNED_BY", CO, k, U, v["props"]["hubspot_owner_id"]))
        for k, v in self.deals.items():
            edges.add(("OWNED_BY", D, k, U, v["props"]["hubspot_owner_id"]))
            for c in v["assoc"].get("contacts", []):
                edges.add(("ASSOCIATED_WITH", C, c, D, k))
            for co in v["assoc"].get("companies", []):
                edges.add(("BELONGS_TO", D, k, CO, co))
        for k, v in self.engagements.items():
            a = v["assoc"]
            for c in a.get("contacts", []):
                edges.add(("INVOLVES", A, k, C, c))
            for co in a.get("companies", []):
                edges.add(("INVOLVES", A, k, CO, co))
            for d in a.get("deals", []):
                edges.add(("RELATED_TO", A, k, D, d))
        for label, evs in (("HUBSPOT_EmailOpenEvent", opens),
                           ("HUBSPOT_EmailClickEvent", clicks)):
            for k, e in evs.items():
                if e["recipient"] in by_email:
                    edges.add(("PERFORMED", C, by_email[e["recipient"]], label, k))
                edges.add(("FOR_CAMPAIGN", label, k, "HUBSPOT_EmailCampaign",
                           e["emailCampaignId"]))
                if "url" in e:
                    edges.add(("CLICKED_URL", label, k, "HUBSPOT_WebPage", e["url"]))
        for k, (f, email) in forms.items():
            if email in by_email:
                edges.add(("SUBMITTED_BY", "HUBSPOT_FormSubmission", k, C, by_email[email]))
            edges.add(("ON_PAGE", "HUBSPOT_FormSubmission", k, "HUBSPOT_WebPage",
                       f["page_url"]))
        valid = {e for e in edges if e[2] in nodes[e[1]] and e[4] in nodes[e[3]]}
        return nodes, valid


def generate(out: str, portal: float, seed: int, data_seed: int) -> dict:
    """Writes ``out``/snap1, drawn from ``data_seed``, and ``out``/snap2,
    whose changes are drawn from ``seed``; returns the expected counts plus
    the request parameters the report mix draws from."""
    c = Corpus(portal, data_seed)
    raw1 = c.write(os.path.join(out, "snap1"))
    nodes1, valid1 = c.graph()
    ids1 = {t: set(nodes1[l]) for t, l in zip(NODE_TABLES, [
        "HUBSPOT_User", "HUBSPOT_Contact", "HUBSPOT_Company", "HUBSPOT_Deal",
        "HUBSPOT_Activity"])}
    c.rng = np.random.default_rng(seed)
    changed = c.delta()
    raw2 = c.write(os.path.join(out, "snap2"))
    nodes2, valid2 = c.graph()
    ids2 = {t: set(nodes2[l]) for t, l in zip(NODE_TABLES, [
        "HUBSPOT_User", "HUBSPOT_Contact", "HUBSPOT_Company", "HUBSPOT_Deal",
        "HUBSPOT_Activity"])}
    scd, state = {}, {}
    for t in NODE_TABLES:
        new, gone = ids2[t] - ids1[t], ids1[t] - ids2[t]
        upd = changed[t] & ids1[t] & ids2[t]
        scd[t] = {"new": len(new), "updated": len(upd), "deleted": len(gone),
                  "unchanged": len(ids1[t] & ids2[t]) - len(upd)}
        state[f"current_{t}"] = len(ids1[t] | ids2[t])
        state[f"deleted_{t}"] = len(gone)
        state[f"history_{t}"] = len(upd) + len(gone)
    track1 = {e for e in valid1 if e[0] not in IMMUTABLE}
    track2 = {e for e in valid2 if e[0] not in IMMUTABLE}
    kept = {e for e in valid1 if e[0] in IMMUTABLE} - valid2
    state["edges"] = len(valid2) + len(kept)
    state["relchanges_added"] = len(track2 - track1)
    state["relchanges_removed"] = len(track1 - track2)
    for name, label in (("email_opens", "HUBSPOT_EmailOpenEvent"),
                        ("email_clicks", "HUBSPOT_EmailClickEvent"),
                        ("form_submissions", "HUBSPOT_FormSubmission")):
        state[f"events_{name}"] = len(nodes1[label] | nodes2[label])
    rng = np.random.default_rng(seed + 1)
    live = sorted(c.contacts, key=lambda k: int(k[1:]))
    owner_of = {k: c.contacts[k]["props"]["hubspot_owner_id"] for k in live}
    owned = {}
    for k in live:
        owned[owner_of[k]] = owned.get(owner_of[k], 0) + 1
    hist_ids = sorted(changed["contacts"] & ids1["contacts"])
    params = {
        "as_of_ms": T2,
        # lookup keys skewed toward low ids, Zipf with exponent 1.3: an
        # assumed skew, since no measured key distribution is at hand
        "contacts": [{"id": k, "email": c.contacts[k]["props"]["email"],
                      "owner_email": f"owner{owner_of[k].split('_')[1]}@corp.example",
                      "versions": 2 if k in changed["contacts"] else 1}
                     for k in (live[int(i) % len(live)] for i in rng.zipf(1.3, 64) - 1)],
        "owners": [{"id": u, "contacts": owned.get(u, 0)} for u in
                   sorted(owned, key=lambda u: -owned[u])[:8]],
        "history_ids": hist_ids[:16],
    }
    node_counts = {l: len(v) for l, v in nodes2.items()}
    return {"scd": scd, "state": state, "nodes": node_counts,
            "edges_valid_1": len(valid1), "edges_valid_2": len(valid2),
            "raw_bytes_1": raw1, "raw_bytes_2": raw2,
            "events_new": {k: state[f"events_{k}"] - len(nodes1[l]) for k, l in (
                ("email_opens", "HUBSPOT_EmailOpenEvent"),
                ("email_clicks", "HUBSPOT_EmailClickEvent"),
                ("form_submissions", "HUBSPOT_FormSubmission"))},
            "params": params}
